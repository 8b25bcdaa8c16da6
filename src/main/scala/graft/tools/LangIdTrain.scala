package graft.tools

import graft.ext.LangIdFixtures.{NonePool, doc}
import org.apache.spark.sql.functions._

/** Derives [[graft.ext.LangId.PinnedW]]: one-vs-rest GD over the
  * [[graft.ext.LangIdFixtures]] corpus, on seeds disjoint from every
  * oracle corpus. Prints the weight matrix to paste into
  * LangId.PinnedW, plus holdout accuracy.
  */
object LangIdTrain {

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus(32))
    import spark.implicits._
    val langs = graft.ext.LangId.Langs
    val k = langs.length
    val train = (0 until 500 * k).map { i =>
      val lang = langs(i % k)
      (i.toLong, lang, doc(lang, 1000 + i))
    }.toDF("id", "lang", "text")
    val feats = graft.ext.LangId.featurize(train, "id", "text")
      .join(train.select($"id", $"lang"), "id")
    val w = graft.ext.LangId.train(feats)
    println("[langid] trained weights (paste into LangId.PinnedW):")
    w.zip(langs).foreach { case (wk, l) =>
      println(s"    // $l")
      println("    Seq(" + wk.map(v => f"$v%.4f").mkString(", ") + "),")
    }
    // holdout: per-language accuracy AND the none floor (out-of-set
    // docs must score < NoneThreshold on every head)
    val test = (0 until 100 * k).map { i =>
      val lang = langs(i % k)
      (i.toLong, lang, doc(lang, 90000 + i * 3))
    }.toDF("id", "lang", "text")
    val pred = graft.ext.LangId.featurize(test, "id", "text")
      .withColumn("pred", graft.ext.LangId.classify($"features", w.map(_.toSeq)))
      .join(test.select($"id", $"lang"), "id")
    val acc = pred.select(avg(($"pred" === $"lang").cast("double"))).head.getDouble(0)
    println(f"[langid] holdout accuracy ${acc * 100}%.1f%%")
    // margin diagnostics: min best-score among in-language docs vs
    // max best-score among none docs — the floor must sit between
    val best = org.apache.spark.sql.functions.greatest(
      graft.ext.LangId.scores($"features", w.map(_.toSeq)): _*)
    val inMin = graft.ext.LangId.featurize(test, "id", "text")
      .select(min(best)).head.getDouble(0)
    println(f"[langid] min in-language best-score $inMin%.4f (floor ${graft.ext.LangId.NoneThreshold})")
    val noneDocs = (0 until 200).map { i =>
      (i.toLong, (0 until 14).map(j =>
        NonePool(((i * 31 + j * 7 + i / 13) % NonePool.size).abs)).mkString(" "))
    }.toDF("id", "text")
    val nonePred = graft.ext.LangId.featurize(noneDocs, "id", "text")
      .withColumn("pred", graft.ext.LangId.classify($"features", w.map(_.toSeq)))
    val noneAcc = nonePred.select(avg(($"pred" === "none").cast("double")))
      .head.getDouble(0)
    println(f"[langid] none-floor accuracy ${noneAcc * 100}%.1f%%")
    spark.stop()
  }
}
