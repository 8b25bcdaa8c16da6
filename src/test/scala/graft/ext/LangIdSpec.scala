package graft.ext

import org.apache.spark.sql.functions._

/** [[LangId]] — the trained char-n-gram language classifier.
  *
  *  - RE-TRAINS the one-vs-rest model on the [[LangIdFixtures]] corpus
  *    and asserts perfect holdout accuracy on disjoint seeds (the
  *    synthetic pools are strongly separated by construction — less
  *    than 100% means the trainer or featurizer regressed)
  *  - asserts the PINNED weights carry the trained structure: each
  *    head's own-language n-gram weights are positive and dominate
  *    every cross-language weight
  *  - classification with the pinned weights matches training-free
  *    expectations on hand phrases, incl. the tie-break order
  */
class LangIdSpec extends graft.SparkSpec {
  import spark.implicits._

  private def corpus(n: Int, seedBase: Long) = {
    val langs = LangId.Langs
    (0 until n).map { i =>
      val lang = langs(i % langs.length)
      (i.toLong, lang, LangIdFixtures.doc(lang, seedBase + i))
    }.toDF("id", "lang", "text")
  }

  test("re-trained one-vs-rest model reaches 100% holdout accuracy") {
    val train = corpus(1800, 1000)
    val feats = LangId.featurize(train, "id", "text")
      .join(train.select($"id", $"lang"), "id")
    val w = LangId.train(feats, iters = 250)
    val test = corpus(360, 50000)
    val acc = LangId.featurize(test, "id", "text")
      .withColumn("pred", LangId.classify($"features", w.map(_.toSeq)))
      .join(test.select($"id", $"lang"), "id")
      .select(avg(($"pred" === $"lang").cast("double"))).head.getDouble(0)
    assert(acc === 1.0, s"holdout accuracy $acc")
    // none floor: out-of-set docs classify as none on the SAME model
    val noneDocs = (0 until 60).map { i =>
      (i.toLong, (0 until 14).map(j => LangIdFixtures.NonePool(
        ((i * 31 + j * 7 + i / 13) % 12).abs)).mkString(" "))
    }.toDF("id", "text")
    val noneAcc = LangId.featurize(noneDocs, "id", "text")
      .withColumn("pred", LangId.classify($"features", w.map(_.toSeq)))
      .select(avg(($"pred" === "none").cast("double"))).head.getDouble(0)
    assert(noneAcc === 1.0, s"none-floor accuracy $noneAcc")
  }

  test("native pinned kernel == Column classify, bitwise") {
    // the hot paths run graft.fn.LangIdPredict (one generated call);
    // the SQL oracles replay the Column/CASE composition — they must
    // agree on every row, including near-floor and none rows
    val rows = (0 until 400).map { i =>
      val cls = i % 11
      val text =
        if (cls == 10) "" // zero-evidence row
        else if (cls == 9) (0 until 14).map(j => LangIdFixtures
          .NonePool(((i * 31 + j * 7) % 12).abs)).mkString(" ")
        else LangIdFixtures.doc(LangId.Langs(cls), 7000 + i)
      (i.toLong, text)
    }.toDF("id", "text")
    // force the ARRAY form by passing a same-valued copy (different
    // reference, so classify does not route to the kernel)
    val copied = LangId.PinnedW.map(w => w.map(identity))
    val both = LangId.featurize(rows, "id", "text")
      .withColumn("native", LangId.classify($"features", LangId.PinnedW))
      .withColumn("column", LangId.classify($"features", copied))
    val diff = both.filter($"native" =!= $"column").count()
    assert(diff === 0L, s"$diff rows disagree")
    val none = both.filter($"native" === "none").count()
    assert(none >= 36L, s"none rows under-represented: $none") // 2 of 11 classes
    // the split featurize -> classify shape (q152/q166/langGate/
    // subtitleGate) must COMPILE: with codegen fallback disabled a
    // too-large generated method throws instead of silently running
    // interpreted (the inline features+argmax shape and the pairwise
    // when-chain both did at K = 9)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val lazyRows = spark.range(1000)
        .select(concat(lit("the people and "), $"id").as("text"))
        .withColumn("__f", LangId.features($"text"))
        .select(LangId.classify($"__f", LangId.PinnedW).as("lang"))
      val plan = lazyRows.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), s"classifier fell out of codegen:\n$plan")
      assert(lazyRows.filter($"lang" === "en").count() === 1000L)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("the none pool is disjoint from every feature n-gram") {
    // the floor's calibration rests on out-of-set text hitting NO
    // feature — assert the invariant the pools were built to
    // a doc is pool words space-joined then space-padded: the worst
    // case for cross-word matches is the full concatenation
    val doc = " " + LangIdFixtures.NonePool.mkString(" ") + " "
    LangId.Ngrams.foreach { g =>
      assert(!doc.contains(g), s"'$g' hits the none pool")
    }
  }

  test("pinned weights carry the trained one-vs-rest structure") {
    LangId.PinnedW.zipWithIndex.foreach { case (w, k) =>
      // features 1+4k..4k+4 are language k's own n-grams
      val own = (1 + 4 * k) until (1 + 4 * k + 4)
      own.foreach(j => assert(w(j) > 1.0, s"lang $k weight $j"))
      (1 until LangId.Dim).filterNot(own.contains)
        .foreach(j => assert(w(j) < 0.0, s"lang $k cross weight $j"))
    }
  }

  test("classification with pinned weights on hand phrases") {
    val rows = Seq(
      (1L, "the people and the water of the house"),
      (2L, "der kleine und die leute mit der zeit"),
      (3L, "les gens est une grande maison des mots"),
      (4L, "los tiempos las aguas para la gente como antes"),
      (5L, "вода и время не на что дом"),
      (6L, "الكلمة في البيت من الماء على الوقت أن يكون"),
      (7L, "水的时间是了在房子"),
      (8L, "みずのじかんですことばますいえに に "),
      (9L, "물의 시간은 집에서 단어이다"),
      (10L, "")).toDF("id", "text")
    val pred = LangId.featurize(rows, "id", "text")
      .withColumn("p", LangId.classify($"features", LangId.PinnedW))
      .select($"id", $"p").as[(Long, String)].collect().toMap
    assert(pred(1L) === "en")
    assert(pred(2L) === "de")
    assert(pred(3L) === "fr")
    assert(pred(4L) === "es")
    assert(pred(5L) === "ru")
    assert(pred(6L) === "ar")
    assert(pred(7L) === "zh")
    assert(pred(8L) === "ja")
    assert(pred(9L) === "ko")
    // no evidence at all: every head scores σ(intercept) — all far
    // below the NONE floor, so absence of signal is "none", not a
    // laundered language
    assert(pred(10L) === "none")
  }
}
