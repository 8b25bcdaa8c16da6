package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Graded corpus kernels (`ext`/`fn`) run through `SparkEntry.queries`
  * over a generated documents + embeddings corpus. One op = one query.
  */
final class CorpusWorkload(spark: SparkSession, work: Path, expectations: Path)
    extends Workload {
  val name = "corpus_kernels"
  val fixes = 0L
  private val dir = work.resolve("corpus").toString

  def setup(): Map[String, Double] = {
    CorpusWorkload.write(spark, dir)
    Map.empty
  }

  private lazy val plans: Seq[(String, String, DataFrame)] =
    CorpusWorkload.Queries.map { case (q, metric) => (q, metric, SparkEntry.queries(q)(spark, dir)) }

  def ops: Seq[Op] = plans.map { case (q, _, df) => Op(q, () => Sink.noop(df)) }

  /** Traced pass: one span per query, engine counters over the pass. */
  def traced(tracer: Tracer, probe: Probe, opId: Int, parent: Int): Map[String, Double] = {
    probe.drain()
    val c0 = probe.counters.snapshot()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val per = plans.map { case (q, metric, df) =>
      probe.plans.current = q
      val (_, s) = tracer.span(metric.stripSuffix("_s"), parent, opId)(_ => Sink.noop(df))
      metric -> s.seconds
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val wall1 = System.currentTimeMillis()
    probe.drain()
    val c1 = probe.counters.snapshot()
    per.toMap ++ c1.map { case (k, v) => k -> (v - c0(k)) } ++ Map(
      "op_s" -> passS,
      "unattributed_s" -> math.max(0.0, passS - probe.counters.jobCoverMs(wall0, wall1) / 1e3))
  }

  /** Row count and order-insensitive content hash per query, against
    * the committed expectations. A missing or differing entry reports
    * the rows and hash the run produced.
    */
  def check(seed: Long, probe: Probe): Seq[(String, String)] = {
    val got = plans.map { case (q, _, df) =>
      probe.plans.current = q
      q -> CorpusWorkload.digest(df)
    }
    val want: Map[String, Map[String, Any]] =
      if (Files.exists(expectations)) Main.Json.readValue(expectations.toFile, classOf[Map[String, Map[String, Any]]])
      else Map.empty
    got.flatMap { case (q, (rows, hash)) =>
      want.get(q).map(w => (w("rows").toString.toLong, w("sha256").toString)) match {
        case None => Some(q -> s"no expectation recorded (got $rows rows, $hash)")
        case Some((r, h)) if r != rows || h != hash => Some(q -> s"got $rows rows $hash, want $r rows $h")
        case _ => None
      }
    }
  }
}

object CorpusWorkload {
  /** The graded queries timed, with the module each exercises. */
  val Queries: Seq[(String, String)] = Seq(
    "q141_vorbis_decode" -> "ext.VorbisDecode.q141_s",
    "q67_neardup_pairs" -> "ext.Dedup.q67_s",
    "q117_dup_spans" -> "ext.SpanDedup.q117_s",
    "q125_video_neardup" -> "ext.H264.q125_s",
    "q73_ann_topk" -> "ext.SimJoin.q73_s",
    "q116_cms_freq" -> "ext.Sketches.q116_s")

  val Docs = 500
  val Vectors = 500
  private val Vocab = ("batch part spark line column order small sort fast value scan a hash " +
    "slow group agg filter query big key window vector table customer data stream row merge " +
    "the join").split(" ")
  private val Langs = Seq("en", "en", "en", "es", "zh", "de", "fr")

  /** A fixed corpus shaped like the graded testdata: word-salad documents
    * over a small vocabulary with planted exact and near duplicates, and
    * 64-d unit embeddings in 10 labelled clusters. It does not depend on
    * the workload seed, so its expected outputs are fixed.
    */
  def write(spark: SparkSession, dir: String): Unit = {
    val rng = new java.util.SplittableRandom(20160828L)
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) {
      texts(i) =
        if (i % 631 == 7) texts(i - 7)                              // exact duplicate
        else if (i % 97 == 5) {                                     // one-word edit
          val w = texts(i - 5).split(" ")
          w(rng.nextInt(w.length)) = Vocab(rng.nextInt(Vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + rng.nextInt(108))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
    }
    val docs = (0 until Docs).map { i =>
      Row(i.toLong, texts(i), Langs(rng.nextInt(Langs.size)), s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val centroids = Array.fill(10, 64)(rng.nextDouble() * 2 - 1)
    val vecs = (0 until Vectors).map { i =>
      val label = rng.nextInt(10)
      val v = centroids(label).map(c => c + 0.6 * (rng.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** (rows, sha256 of the sorted canonical rows). Doubles keep 9
    * significant digits, so summation order cannot change the hash.
    */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(canon).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".formatLocal(java.util.Locale.ROOT, d)
    case f: Float => canon(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }
}
