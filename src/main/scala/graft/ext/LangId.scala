package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TRAINED language identification — the round-12 upgrade of
  * `text_profile`'s character-class heuristic (VERDICT r11 item 6):
  * now that the charset subsystem decodes legacy pages correctly,
  * the curation quality lever is a real classifier over
  * language-discriminative character n-grams, built exactly like
  * [[QualityModel]] (the fastText-shaped slot in public CCNet/
  * RefinedWeb-style recipes, re-expressed engine-native):
  *
  *  - features are counts of a FIXED, documented n-gram set, length-
  *    normalized — each count is `(len(text) − len(replace(text, g,
  *    ''))) / len(g)`, a codegen-able expression a SQL oracle replays
  *    verbatim (no hashing trick, no UDF);
  *  - training is one-vs-rest logistic regression through
  *    [[QualityModel.train]] (one distributed vecSum aggregate per
  *    iteration, model state ≪ data);
  *  - scoring is K σ(w_k·x) columns with literal weights inside one
  *    codegen span; the language is the deterministic argmax (ties
  *    break in [[Langs]] order).
  *
  * Scale shape: featurize+score is a narrow per-row pass — no
  * shuffle, no state — so batch and streaming plans are identical
  * (the [[graft.streaming.DocStreams.langGate]] composition) and the
  * pass parallelizes embarrassingly at 100 TB.
  */
object LangId {

  /** Round 13 (VERDICT r12 item 3): breadth beyond Latin scripts —
    * the charset subsystem's own beneficiaries (Cyrillic, Arabic,
    * CJK) plus a calibrated NONE floor for out-of-set text.
    */
  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "ru", "ar", "zh",
    "ja", "ko")

  /** the fixed feature n-grams (4 per language, function-word
    * anchored — the classic char-n-gram language signal; CJK grams
    * are bare characters since those scripts don't space-delimit)
    */
  val Ngrams: Seq[String] = Seq(
    " the ", " and ", " of ", " to ",
    " der ", " und ", " die ", " mit ",
    " les ", " des ", " est ", " une ",
    " los ", " las ", " para ", " como ",
    " и ", " не ", " на ", " что ",
    " في ", " من ", " على ", " أن ",
    "的", "是", "了", "在",
    "の", "です", "ます", " に ",
    "의", "는", "이다", "에서")

  /** A doc whose best head scores below this floor classifies as
    * "none" — out-of-set text must not launder into a language.
    * Calibration: each head's trained bias is strongly negative (a
    * doc hitting NO n-gram scores σ(bias) ≈ 0.03–0.2 on every head),
    * while in-language docs drive their head well past 0.5;
    * LangIdSpec re-trains and asserts both sides of the margin.
    */
  val NoneThreshold: Double = 0.5

  val Dim: Int = 1 + Ngrams.length

  /** occurrence count of literal `g` — the replace/length identity
    * both engines evaluate exactly
    */
  private def cnt(text: Column, g: String): Column =
    (length(text) - length(replace(text, lit(g), lit("")))) / g.length

  /** [1, min(1, 8·count_g/len)…] over ' '+text+' ' (so edge words
    * count); all components in [0,1] for GD
    */
  def features(textCol: Column): Column = {
    val padded = concat(lit(" "), textCol, lit(" "))
    val len = greatest(length(padded).cast("double"), lit(1.0))
    array(lit(1.0) +: Ngrams.map(g =>
      least(lit(1.0), cnt(padded, g).cast("double") * 8.0 / len)): _*)
  }

  def featurize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), features(col(textCol)).as("features"))

  /** one-vs-rest training: K binary heads through
    * [[QualityModel.train]]; `labeled` needs `features` + `lang`
    */
  def train(labeled: DataFrame, iters: Int = 400, lr: Double = 6.0): Seq[Array[Double]] =
    Langs.map { l =>
      QualityModel.train(
        labeled.withColumn("__y", (col("lang") === l).cast("int")),
        "features", "__y", iters = iters, lr = lr)
    }

  /** per-language σ(w_k·x) scores, literal weights in codegen */
  def scores(featCol: Column, weights: Seq[Seq[Double]]): Seq[Column] =
    weights.map(w => QualityModel.score(featCol, w))

  /** deterministic argmax over the K scores with the NONE floor,
    * ties in [[Langs]] order, and a winner below [[NoneThreshold]]
    * is "none".
    *
    * Implementation: for the PINNED production model this routes to
    * the native [[graft.fn.LangIdPredict]] kernel — at K = 9 the
    * Column composition (9 × 37-term dots + argmax over the
    * 36-replace feature array) exceeds the 64 KB generated-method
    * limit: the pairwise when-chain form OOM'd codegen outright and
    * even the array_position(array_max) form silently fell back to
    * interpreted eval (LangIdSpec compiles the pinned path with
    * codegen fallback off). For RUNTIME-trained weight matrices
    * (spec/training paths) the array form is kept —
    * its semantics are the contract the kernel mirrors bit-exactly
    * (same left-to-right dot, same σ, same first-max tie break, same
    * floor; LangIdSpec asserts parity). The SQL twin
    * ([[sqlClassifyCase]]) states the equivalent comparison chain
    * over once-computed score columns.
    */
  def classify(featCol: Column, weights: Seq[Seq[Double]]): Column =
    if (weights eq PinnedW) {
      import org.apache.spark.sql.{graftbridge => gb}
      gb.column(graft.fn.LangIdPredict(gb.expression(featCol)))
    } else {
      val sArr = array(scores(featCol, weights): _*)
      val mx = array_max(sArr)
      val idx = array_position(sArr, mx) // 1-based FIRST max: Langs order
      when(mx < lit(NoneThreshold), lit("none"))
        .otherwise(element_at(array(Langs.map(lit): _*), idx.cast("int")))
    }

  /** [[PinnedW]] flattened for the native kernel. */
  private lazy val PinnedWArr: Array[Array[Double]] = PinnedW.map(_.toArray).toArray

  /** Native 9-head predict over a features array — bit-identical to
    * the Column composition [[classify]] states: the same
    * left-to-right Σ w(i)·f(i) ([[graft.fn.VecKernels.dotBoxed]]'s
    * order), the same σ, strict `>` so ties keep the FIRST (=
    * [[Langs]]-order) head, the same [[NoneThreshold]] floor. Null
    * feature elements or a dimension mismatch null the prediction
    * (the poisoned-fold contract).
    */
  def predictBoxed(f: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.unsafe.types.UTF8String = {
    if (f == null) return null
    val n = f.numElements()
    var best = -1
    var bestS = 0.0
    var k = 0
    while (k < PinnedWArr.length) {
      val w = PinnedWArr(k)
      if (w.length != n) return null
      var z = 0.0
      var i = 0
      while (i < n) {
        if (f.isNullAt(i)) return null
        z += w(i) * f.getDouble(i)
        i += 1
      }
      val s = 1.0 / (1.0 + math.exp(-z))
      if (best < 0 || s > bestS) { best = k; bestS = s }
      k += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(
      if (bestS < NoneThreshold) "none" else Langs(best))
  }

  /** The SQL twin of [[classify]] — the exact CASE chain over the
    * given score column names (floor first, then the [[Langs]]-order
    * tie-break cascade), shared by every oracle that replays the
    * classifier.
    */
  def sqlClassifyCase(scoreCols: Seq[String]): String = {
    require(scoreCols.length == Langs.length)
    val n = scoreCols.length
    val branches = (0 until n - 1).map { k =>
      val cond = ((k + 1) until n)
        .map(j => s"${scoreCols(k)} >= ${scoreCols(j)}").mkString(" AND ")
      s"WHEN $cond THEN '${Langs(k)}'"
    }
    s"CASE WHEN GREATEST(${scoreCols.mkString(", ")}) < $NoneThreshold " +
      s"THEN 'none' ${branches.mkString(" ")} ELSE '${Langs(n - 1)}' END"
  }

  /** Weights trained by `tools/LangIdTrain` (one-vs-rest GD over the
    * deterministic 9-language [[LangIdFixtures]] corpus, on seeds
    * disjoint from every oracle corpus; LangIdSpec RE-TRAINS and
    * asserts holdout accuracy, the none floor, and sign structure)
    * and PINNED as literals — the
    * q98 convention: a trained model is a weight vector, and pinning
    * one makes the whole featurize → K·σ(w·x) → argmax path
    * oracle-checkable. Round-13 margin evidence (tools/LangIdTrain):
    * holdout 100%, min in-language best-score 0.6975, none-pool
    * best-scores all < 0.5 — the floor sits inside the margin.
    */
  val PinnedW: Seq[Seq[Double]] = Seq(
    // en
    Seq(-3.0140, 9.2746, 9.2611, 9.2461, 9.7764, -1.4255, -1.4265, -1.4272, -1.4272, -1.4939, -1.4111, -1.4057, -1.4041, -1.3372, -1.3386, -1.3333, -1.4181, -1.4206, -1.4184, -1.4184, -1.4140, -1.6217, -1.5226, -1.5269, -1.5276, -1.5596, -1.5620, -1.5645, -1.6555, -1.5853, -1.5841, -1.5810, -1.5853, -1.6749, -1.5722, -1.5720, -1.5743),
    // de
    Seq(-2.9190, -1.4861, -1.4836, -1.4851, -1.5881, 9.4061, 9.4332, 9.4261, 9.4263, -1.5606, -1.4742, -1.4687, -1.4669, -1.4002, -1.4016, -1.3961, -1.4848, -1.4845, -1.4822, -1.4822, -1.4778, -1.6851, -1.5824, -1.5869, -1.5877, -1.6055, -1.6079, -1.6107, -1.7039, -1.6432, -1.6420, -1.6388, -1.6432, -1.7265, -1.6210, -1.6209, -1.6234),
    // fr
    Seq(-2.9350, -1.4769, -1.4744, -1.4759, -1.5783, -1.4800, -1.4810, -1.4818, -1.4818, 9.8204, 9.2840, 9.2983, 9.2776, -1.3909, -1.3924, -1.3869, -1.4750, -1.4752, -1.4729, -1.4729, -1.4685, -1.6759, -1.5737, -1.5782, -1.5789, -1.5988, -1.6012, -1.6039, -1.6969, -1.6347, -1.6336, -1.6303, -1.6347, -1.7190, -1.6139, -1.6138, -1.6162),
    // es
    Seq(-2.6385, -1.6795, -1.6767, -1.6782, -1.7939, -1.6865, -1.6878, -1.6886, -1.6886, -1.7668, -1.6689, -1.6630, -1.6610, 9.3238, 9.3146, 9.2912, 9.8503, -1.6819, -1.6796, -1.6796, -1.6751, -1.8784, -1.7647, -1.7699, -1.7706, -1.7431, -1.7454, -1.7486, -1.8489, -1.8184, -1.8175, -1.8141, -1.8184, -1.8812, -1.7675, -1.7676, -1.7706),
    // ru
    Seq(-2.8662, -1.5157, -1.5132, -1.5146, -1.6196, -1.5195, -1.5205, -1.5213, -1.5213, -1.5921, -1.5039, -1.4984, -1.4966, -1.4299, -1.4314, -1.4258, -1.5164, 9.3849, 9.4054, 9.4050, 9.4433, -1.7150, -1.6105, -1.6152, -1.6159, -1.6271, -1.6295, -1.6323, -1.7267, -1.6704, -1.6692, -1.6660, -1.6704, -1.7507, -1.6439, -1.6439, -1.6464),
    // ar
    Seq(-3.6076, -1.0714, -1.0695, -1.0708, -1.1461, -1.0686, -1.0691, -1.0697, -1.0697, -1.1203, -1.0582, -1.0538, -1.0527, -0.9889, -0.9901, -0.9861, -1.0489, -1.0637, -1.0616, -1.0617, -1.0579, 9.3559, 8.9127, 8.9507, 8.9371, -1.2854, -1.2878, -1.2896, -1.3661, -1.2495, -1.2480, -1.2453, -1.2495, -1.3684, -1.2825, -1.2820, -1.2836),
    // zh
    Seq(-4.8315, -0.5350, -0.5341, -0.5349, -0.5732, -0.5295, -0.5296, -0.5300, -0.5300, -0.5556, -0.5248, -0.5223, -0.5218, -0.4782, -0.4789, -0.4769, -0.5074, -0.5260, -0.5247, -0.5248, -0.5224, -0.6654, -0.6231, -0.6247, -0.6253, 7.3471, 7.3278, 7.3650, 7.6567, -0.6850, -0.6837, -0.6819, -0.6850, -0.8146, -0.7612, -0.7605, -0.7611),
    // ja
    Seq(-3.9064, -0.9102, -0.9086, -0.9098, -0.9741, -0.9059, -0.9062, -0.9069, -0.9068, -0.9500, -0.8974, -0.8934, -0.8925, -0.8326, -0.8337, -0.8303, -0.8833, -0.9012, -0.8994, -0.8994, -0.8960, -1.0850, -1.0172, -1.0200, -1.0207, -1.1482, -1.1506, -1.1520, -1.2210, 8.6952, 8.7277, 8.7333, 8.6948, -1.2160, -1.1387, -1.1381, -1.1394),
    // ko
    Seq(-4.6193, -0.6088, -0.6078, -0.6087, -0.6522, -0.6033, -0.6034, -0.6039, -0.6039, -0.6329, -0.5979, -0.5951, -0.5945, -0.5468, -0.5476, -0.5453, -0.5802, -0.5995, -0.5981, -0.5981, -0.5955, -0.7503, -0.7028, -0.7046, -0.7052, -0.8612, -0.8634, -0.8641, -0.9170, -0.7678, -0.7665, -0.7646, -0.7679, 7.9861, 7.6642, 7.6901, 7.7259))
}
