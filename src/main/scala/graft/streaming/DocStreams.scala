package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming MinHash NEAR-duplicate filtering — the streaming face of
  * `ext/Dedup.nearDupPairs` (EventStreams covers streaming EXACT
  * dedup). Possible at all because signatures are per-row and
  * stateless ([[graft.fn.MinhashSig]], the shuffle-free kernel): each
  * arriving document hashes to its b LSH band buckets; a document is
  * kept iff it is the FIRST occupant of ALL its buckets within the
  * watermark horizon — i.e. dropped when it shares any bucket with an
  * earlier document, the standard streaming formulation of "LSH says
  * probable near-dup of something already ingested".
  *
  * Plan — two chained stateful operators, both watermark-bounded:
  *  1. per-row signature + band explode (narrow, stateless), then
  *     `dropDuplicatesWithinWatermark` on the bucket key — state is
  *     one entry per OCCUPIED bucket, evicted at watermark + horizon;
  *  2. count surviving band rows per (event-time, doc): a doc keeping
  *     all b of its bucket rows was first everywhere → keep. Keyed by
  *     the watermarked event time so append-mode output flushes as
  *     the watermark passes (the [[EventStreams.asofStreamStream]]
  *     chaining shape).
  *
  * Semantics notes: across micro-batches "first" is arrival order
  * (exactly the batch pipeline's keep-min-id convention when ids
  * follow time). Within ONE micro-batch the bucket winner is
  * arbitrary, so two same-batch near-dups may BOTH drop — the
  * conservative direction (never keeps both). Documents with fewer
  * than n words have no signature and are always kept: their bucket
  * keys derive from their own doc_id (singleton buckets, never
  * collide).
  *
  * Contract: docs (doc_id: long, ts: long nanos, text: string) →
  * kept docs (doc_id, ts·micros). Exact-verify of survivors (the
  * batch pipeline's Jaccard step) is a batch concern — LSH banding
  * alone is the accepted streaming trade (no pairwise state).
  */
object DocStreams {

  def nearDupFilter(docs: DataFrame, n: Int = 3, k: Int = 16, b: Int = 8,
                    horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    require(k % b == 0, s"signature length $k not divisible into $b bands")
    val r = k / b

    val sig = gb.column(graft.fn.MinhashSig(gb.expression(col("text")), n, k))
    val withSig = docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), sig.as("sig"))
    // short docs (null sig) route to singleton buckets keyed by their
    // own id — gated on sig's nullability explicitly, because
    // xxhash64 of all-null inputs is NOT null (it returns the seed),
    // so a coalesce over it would silently collide every short doc
    val bandStructs = (0 until b).map { bi =>
      val parts = (0 until r).map(j => element_at(col("sig"), bi * r + j + 1))
      struct(lit(bi).as("band"),
        when(col("sig").isNotNull, xxhash64(parts: _*))
          .otherwise(xxhash64(lit(-1), col("doc_id"))).as("band_hash"))
    }
    val bands = withSig
      .select(col("doc_id"), col("ts_t"), explode(array(bandStructs: _*)).as("__bs"))
      .select(col("doc_id"), col("ts_t"),
        col("__bs.band").as("band"), col("__bs.band_hash").as("band_hash"))
      .withWatermark("ts_t", horizon)

    bands
      .dropDuplicatesWithinWatermark(Seq("band", "band_hash"))
      .groupBy(col("ts_t"), col("doc_id"))
      .agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") === b)
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"))
  }

  /** Streaming shared-SPAN filter — the winnowing face of
    * [[nearDupFilter]] (which matches whole-document SIMILARITY;
    * this matches verbatim token runs ≥ k+w−1, the
    * [[graft.ext.Dedup.winnowSharedPairs]] semantics): a document
    * drops when ANY of its winnow fingerprints was already deposited
    * by an earlier document inside the watermark horizon.
    *
    * Same two-operator chain as [[nearDupFilter]]: the narrow
    * [[graft.fn.WinnowFingerprints]] kernel (stateless, in the scan
    * span) → `dropDuplicatesWithinWatermark` on the fingerprint →
    * per-(event-time, doc) count of surviving rows vs the doc's
    * fingerprint count (kept = first occupant EVERYWHERE). Docs with
    * no k-shingle get a singleton bucket keyed by their own id —
    * always kept.
    *
    * Semantics note: the batch operator thresholds on `minShared`
    * SHARED fingerprints per PAIR; per-fingerprint state cannot count
    * pairwise co-occurrence, so the streaming rule is the
    * conservative minShared = 1 ("any shared span drops") — strictly
    * more aggressive, never keeps a doc the batch rule would drop
    * (for minShared ≥ 1 against earlier docs in-horizon).
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string) →
    * kept (doc_id, ts·micros).
    */
  def sharedSpanFilter(docs: DataFrame, k: Int = 5, w: Int = 4,
                       horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val fps = gb.column(graft.fn.WinnowFingerprints(
      gb.expression(col("text")), k, w))
    val rows = docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), fps.as("__fps"))
      // short docs: a singleton own-id bucket. Real winnow
      // fingerprints live in the 60-bit md5-prefix range, so forcing
      // bit 62 puts singleton keys STRUCTURALLY outside it (not just
      // probabilistically — a raw xxhash64 would land in-range ~1/16
      // of the time, with only negligible-odds collisions)
      .select(col("doc_id"), col("ts_t"),
        when(col("__fps").isNotNull, col("__fps"))
          .otherwise(array(xxhash64(lit(-7), col("doc_id"))
            .bitwiseOR(lit(1L << 62)))).as("__fps"))
      .select(col("doc_id"), col("ts_t"), size(col("__fps")).as("__n"),
        explode(col("__fps")).as("fp"))
      .withWatermark("ts_t", horizon)
    rows
      .dropDuplicatesWithinWatermark(Seq("fp"))
      .groupBy(col("ts_t"), col("doc_id"), col("__n"))
      .agg(count(lit(1)).as("__kept"))
      .filter(col("__kept") === col("__n"))
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"))
  }

  /** Streaming ANN enrichment: attach to every arriving embedded
    * document its most cosine-similar STATIC-corpus vector among LSH
    * bucket candidates — "tag each ingested doc with its nearest
    * curated example", the streaming face of [[graft.ext.SimJoin.annTopK]].
    *
    * Plan: per-row band codes on the stream side (sign-LSH dots are
    * plain arithmetic — stateless, inside codegen), corpus buckets
    * precomputed once on the static side → stream-STATIC equi-join on
    * (band, code) (no join state at all; the static side broadcasts
    * or shuffles per micro-batch exactly as a batch join would) →
    * exact-cosine rescore → one watermark-keyed `max_by` argmax, the
    * only stateful operator. Docs with no bucket candidate are
    * dropped (inner join — the ANN "no neighbor found" contract).
    *
    * Contract: stream (doc_id: long, ts: long nanos, vec:
    * array<double>), corpus (idCol, vecCol). Output (doc_id,
    * ts·micros, nn_id, cos_sim).
    *
    * SHARED-ID-SPACE ASSUMPTION: matches where the corpus id equals
    * the stream doc_id are excluded (mirroring the batch operator's
    * self-exclusion, so a re-ingested doc never "finds" itself at
    * cos 1.0). This presumes stream and corpus ids live in ONE id
    * space; if they are disjoint-but-numerically-overlapping, a
    * legitimate neighbor whose id coincides with the query's doc_id
    * is silently dropped — remap one side's ids (e.g. offset the
    * stream's) before calling. Same caveat applies to
    * [[annEnrichQuantized]].
    */
  def annEnrich(stream: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String,
                planeMat: Seq[Seq[Double]], b: Int,
                watermark: String = "10 minutes"): DataFrame = {
    val nPlanes = planeMat.size
    require(nPlanes % b == 0, s"$nPlanes planes not divisible into $b bands")
    val rPl = nPlanes / b
    val corpusBuckets = graft.ext.SimJoin
      .buckets(corpus, idCol, vecCol, planeMat, b)
      .join(corpus.select(col(idCol), col(vecCol).as("__cv")), idCol)
    // band codes computed in-row on the stream side (same arithmetic
    // as SimJoin.buckets, vec kept for the rescore) — stateless
    val bits = planeMat.map(pl =>
      when(graft.ext.SimJoin.dotConst(col("vec"), pl) >= 0, 1).otherwise(0))
    val codes = (0 until b).map { bi =>
      struct(lit(bi).as("band"),
        (0 until rPl).map(j => bits(bi * rPl + j) * lit(1 << j))
          .reduce(_ + _).as("code"))
    }
    val streamSide = stream
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("vec"))
      .withWatermark("ts_t", watermark)
      .select(col("doc_id"), col("ts_t"), col("vec"),
        explode(array(codes: _*)).as("__bc"))
      .select(col("doc_id"), col("ts_t"), col("vec"),
        col("__bc.band").as("band"), col("__bc.code").as("code"))
    streamSide
      .join(corpusBuckets, Seq("band", "code"))
      // batch annTopK excludes a corpus row sharing the query's id
      // (SimJoin.annTopK's q_id filter) — mirror it, else a re-ingested
      // doc "finds" itself at cos 1.0 and the stream==batch contract
      // breaks whenever the id spaces overlap
      .filter(col(idCol) =!= col("doc_id"))
      .withColumn("cos_sim", graft.ext.SimJoin.cosine(col("vec"), col("__cv")))
      // zero-norm degenerates produce NaN cosine, and Spark sorts NaN
      // ABOVE every number — an unfiltered NaN would win the argmax
      .filter(!isnan(col("cos_sim")))
      .groupBy(col("ts_t"), col("doc_id"))
      // batch annTopK's rk=1 orders cos DESC then id ASC — max over
      // (cos, -id) reproduces the id tiebreak exactly (a plain
      // (cos, id) ordering would break ties to the HIGHEST id)
      .agg(max_by(struct(col("cos_sim"), col(idCol)),
        struct(col("cos_sim"), (-col(idCol)).as(idCol))).as("__best"))
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
        col("__best").getField(idCol).as("nn_id"),
        col("__best.cos_sim").as("cos_sim"))
  }

  /** [[annEnrich]] against the INT8-QUANTIZED corpus — the streaming
    * face of `SimJoin.ivfTopKQuantized` (q110): the static side is
    * `SimJoin.quantizedCorpus`'s (id, cell, scale, q) table — the
    * 100 TB storage form, 4× smaller than fp32, which matters
    * doubly on a stream because the static side stays RESIDENT for
    * the query's lifetime — and candidates score with the fused
    * `cosine_sim_q8` kernel; full-precision corpus vectors are never
    * read (need not exist). The stream side assigns its `nProbe`
    * best cells per row ([[graft.ext.SimJoin.probeCells]] — the same
    * arithmetic the batch path uses), stateless, then equi-joins the
    * cell key. Output: each doc's nearest corpus neighbor among the
    * probed cells (ties by lowest id, the batch rk=1 convention);
    * docs whose probed cells are empty or all-degenerate emit
    * nothing.
    *
    * Contract: stream (doc_id: long, ts: long nanos,
    * vec: array<double>) × quantized corpus → (doc_id, ts·micros,
    * nn_id, cos_sim). DocStreamsSpec asserts stream == batch
    * `ivfTopKQuantized` k=1 row-for-row.
    */
  def annEnrichQuantized(stream: DataFrame, qCorpus: DataFrame,
                         idCol: String, centroids: Seq[Seq[Double]],
                         nProbe: Int,
                         watermark: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val streamSide = stream
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("vec"))
      .withWatermark("ts_t", watermark)
      .select(col("doc_id"), col("ts_t"), col("vec"),
        explode(graft.ext.SimJoin.probeCells(col("vec"), centroids, nProbe))
          .as("__probe"))
      .select(col("doc_id"), col("ts_t"), col("vec"),
        col("__probe.cell").as("__cell"))
    streamSide
      .join(qCorpus, Seq("__cell"))
      // same self-id exclusion as batch ivfTopKQuantized's q_id filter
      .filter(col(idCol) =!= col("doc_id"))
      .withColumn("cos_sim", gb.column(graft.fn.CosineSimQ8(
        gb.expression(col("vec")), gb.expression(col("__q")),
        gb.expression(col("__scale")))))
      // NaN (zero-norm degenerates) would win the argmax — drop, as in
      // [[annEnrich]]
      .filter(!isnan(col("cos_sim")))
      .groupBy(col("ts_t"), col("doc_id"))
      // batch rk=1 orders cos DESC then id ASC — max over
      // (cos, -id) mirrors the id tiebreak exactly
      .agg(max_by(struct(col("cos_sim"), col(idCol)),
        struct(col("cos_sim"), (-col(idCol)).as(idCol))).as("__best"))
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
        col("__best").getField(idCol).as("nn_id"),
        col("__best.cos_sim").as("cos_sim"))
  }

  /** Streaming curation gate — the standard ingest-time filter chain
    * of an LLM corpus pipeline, composed entirely from STATELESS
    * per-row kernels plus one watermark-bounded dedup:
    *
    *  1. quality gate: `text_profile` (narrow codegen kernel — no
    *     explode, no aggregation, no state) scores each arriving doc;
    *     docs below `minQuality`, with no tokens, or outside
    *     `langs` (when non-empty) drop immediately;
    *  2. PII scrub: [[graft.ext.TextOps.redactPii]]'s regex chain,
    *     narrow per-row expressions;
    *  3. exact-content dedup: first arrival per content fingerprint
    *     (whole-text xxhash64) within the watermark horizon wins —
    *     the only STATEFUL step, state = one row per distinct
    *     fingerprint inside the horizon, watermark-evicted.
    *
    * On a batch frame the same plan runs with `dropDuplicates`
    * (arbitrary winner within equal content — content-identical rows
    * make the choice immaterial for the redacted output).
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string) →
    * (doc_id, ts·micros, text_redacted, n_pii, lang_id, quality).
    */
  /** Streaming crawl-ingest gate — the streaming face of q133's
    * front half: fetched pages arrive, visible text is extracted
    * ([[graft.fn.HtmlText]], stateless), short pages drop on a
    * token-count gate, PII is counted + scrubbed in one
    * [[graft.fn.PiiScan]] kernel, EXACT content duplicates within
    * the watermark horizon drop on the redacted-text fingerprint
    * (the [[curationGate]] state pattern: bounded by the horizon,
    * evicted after it), and the URL is normalized for downstream
    * partitioning ([[graft.fn.UrlNormalize]], stateless). The
    * per-domain QUOTA deliberately stays a batch/compaction concern:
    * a global k-per-domain cap is unbounded state on an infinite
    * stream by definition (the batch pipeline's bounded bottom-k
    * aggregate is the right home). The windowed form IS bounded —
    * [[domainQuotaGate]] (round 10) caps k per domain per tumbling
    * window with timeout-evicted counters.
    *
    * On a batch frame the same plan runs with `dropDuplicates`.
    *
    * Contract: pages (doc_id: long, ts: long nanos, url: string,
    * html: string) → (doc_id, ts·micros, domain, norm_url, n_pii,
    * text_out).
    */
  def crawlGate(pages: DataFrame, minTokens: Int = 20,
                horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val text = gb.column(graft.fn.HtmlText(gb.expression(col("html"))))
    val scrub = pages
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("url"),
        text.as("__t"))
      .filter(size(split(col("__t"), " ")) >= minTokens)
      .select(col("doc_id"), col("ts_t"), col("url"),
        gb.column(graft.fn.PiiScan(gb.expression(col("__t")))).as("__p"))
      .select(col("doc_id"), col("ts_t"), col("url"),
        (col("__p.n_email") + col("__p.n_ipv4") + col("__p.n_phone")).as("n_pii"),
        col("__p.redacted").as("text_out"),
        xxhash64(lit(-1), col("__p.redacted")).as("__fp"))
      .withWatermark("ts_t", horizon)
    val deduped =
      if (scrub.isStreaming) scrub.dropDuplicatesWithinWatermark(Seq("__fp"))
      else scrub.dropDuplicates(Seq("__fp"))
    val normed = gb.column(graft.fn.UrlNormalize(gb.expression(col("url"))))
    deduped
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
        normed.as("__u"), col("n_pii"), col("text_out"))
      .select(col("doc_id"), col("ts"), col("__u.domain").as("domain"),
        col("__u.norm_url").as("norm_url"), col("n_pii"), col("text_out"))
  }

  /** [[crawlGate]] fed from RAW BYTES — the round-11 front door: the
    * WHATWG charset authority chain ([[graft.fn.CharsetDetect]]: BOM
    * → Content-Type param → meta prescan → strict UTF-8 → 1252)
    * decodes each payload, and the decoded page flows through the
    * UNCHANGED stateful crawl gate (extract, min-token gate, PII
    * scrub, within-watermark content dedup, URL normalization). One
    * consequence worth the name: the dedup fingerprint is computed on
    * DECODED text, so the same page captured twice in different
    * encodings (a UTF-16 mirror of a UTF-8 original, a 1252 relic)
    * collapses to one document — byte-level dedup can never see
    * that pair.
    *
    * Contract: pages (doc_id: long, ts: long nanos, url: string,
    * content_type: string nullable, payload: binary) → crawlGate's
    * output. Stateless prefix + the gate's own watermark state; no
    * new state store.
    */
  def byteCrawlGate(pages: DataFrame, minTokens: Int = 20,
                    horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val det = gb.column(graft.fn.CharsetDetect(
      gb.expression(coalesce(col("content_type"), lit(""))),
      gb.expression(col("payload"))))
    val decoded = pages
      .select(col("doc_id"), col("ts"), col("url"),
        explode(array(det)).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col("doc_id"), col("ts"), col("url"),
        col("__c.text").as("html"))
    crawlGate(decoded, minTokens, horizon)
  }

  def curationGate(docs: DataFrame, minQuality: Double = 0.3,
                   langs: Seq[String] = Nil,
                   horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val profile = gb.column(graft.fn.TextProfile(gb.expression(col("text"))))
    val scored = docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("text"),
        profile.as("__p"),
        // content-EXACT fingerprint: whole-text hash. A k=1 minhash
        // here would collide DISTINCT docs with probability equal to
        // their shingle-set Jaccard (the defining MinHash property) —
        // near-dup filtering is nearDupFilter's job, not this gate's
        xxhash64(lit(-1), col("text")).as("__fp"))
      .filter(col("__p").isNotNull && col("__p.quality") >= minQuality)
    val langGated =
      if (langs.isEmpty) scored
      else scored.filter(col("__p.lang_id").isin(langs: _*))
    val redacted = graft.ext.TextOps.redactPii(langGated, "text")
      .withWatermark("ts_t", horizon)
    val deduped =
      if (redacted.isStreaming)
        redacted.dropDuplicatesWithinWatermark(Seq("__fp"))
      else redacted.dropDuplicates(Seq("__fp"))
    deduped.select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
      col("text_redacted"), col("n_pii"),
      col("__p.lang_id").as("lang_id"), col("__p.quality").as("quality"))
  }

  /** Streaming LM-perplexity quality gate — the model-based
    * counterpart of [[curationGate]]'s rule-based quality filter
    * (CCNet keeps the low-perplexity head of the stream). The model
    * is TRAINED OFFLINE on a batch corpus
    * ([[graft.ext.LangModel.unigramCounts]] →
    * [[graft.ext.LangModel.collectModel]]) and rides the
    * [[graft.fn.UnigramNll]] expression into every task, so the gate
    * is completely STATELESS — no watermark, no state store, batch
    * and stream plans are the same narrow kernel. Docs with no
    * tokens or perplexity above `maxPpl` drop.
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string) →
    * (doc_id, ts·micros, text, avg_nll, ppl).
    */
  /** Streaming SEMANTIC gate — the streaming face of
    * `ext/SimJoin.semanticDedupPairs`'s assignment stage: each
    * arriving embedding is assigned its nearest centroid by cosine
    * ([[graft.fn.NearestCentroidScore]], the fused q103 kernel) and
    * DROPPED when that cosine reaches `maxCos` — "too close to a
    * region the reference corpus already covers densely", the
    * SemDeDup screen against a FIXED centroid book (dedup against
    * already-ingested mass; the pairwise within-cluster verify stays
    * a batch concern, exactly as LSH banding stands in for the
    * Jaccard verify in [[nearDupFilter]]).
    *
    * Completely STATELESS — the centroid matrix rides the expression
    * into every task, so there is no watermark, no state store, and
    * the batch and streaming plans are the same narrow kernel
    * (DocStreamsSpec asserts stream == batch row-for-row).
    *
    * Contract: docs (doc_id: long, ts: long nanos,
    * embedding: array<double>) → kept (doc_id, ts·micros, cluster,
    * cos). Zero-norm embeddings have no defined cosine: kept, with
    * null cos (the batch operator's null-cosine convention); rows
    * whose embedding is null or of the wrong dimension are kept with
    * null cluster AND cos — a malformed row is a curation decision,
    * not a silent drop.
    */
  def semanticGate(docs: DataFrame, centroids: Seq[Seq[Double]],
                   maxCos: Double): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val score = gb.column(graft.fn.NearestCentroidScore(
      gb.expression(col("embedding")), centroids))
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), score.as("__s"))
      .filter(col("__s").isNull || col("__s.cos") <= -2.0 ||
        col("__s.cos") < maxCos)
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
        col("__s.cluster").as("cluster"),
        when(col("__s.cos") <= -2.0, lit(null).cast("double"))
          .otherwise(col("__s.cos")).as("cos"))
  }

  /** Stateless streaming quality-MODEL gate — σ(w·x) over the
    * per-row profile features, completing the model-based filter
    * family on streams next to the rule-based [[curationGate]] and
    * the LM-based [[perplexityGate]]: weights are trained OFFLINE
    * (batch [[graft.ext.QualityModel.train]]) and ride the plan as
    * LITERALS inside codegen, so the gate is a pure per-row
    * projection + filter — no state store, no watermark, micro-batch
    * order irrelevant. Keeps docs with score ≥ minScore.
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string) →
    * kept (doc_id, ts micros, text, q_score), bit-identical to the
    * batch [[graft.ext.QualityModel.filterByQuality]] decision on
    * the same rows (DocStreamsSpec asserts). Token-less docs carry no
    * features and are dropped — no model evidence, the batch
    * convention.
    */
  def qualityModelGate(docs: DataFrame, w: Seq[Double],
                       minScore: Double): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val p = gb.column(graft.fn.TextProfile(gb.expression(col("text"))))
    val feats = array(
      lit(1.0),
      least(col("__p.n_tokens") / 50.0, lit(1.0)),
      col("__p.stop_ratio"),
      col("__p.alpha_ratio"),
      col("__p.punct_ratio"),
      least(col("__p.mean_tok_len") / 10.0, lit(1.0)))
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("text"),
        p.as("__p"))
      .filter(col("__p").isNotNull)
      .withColumn("q_score", graft.ext.QualityModel.score(feats, w))
      .filter(col("q_score") >= minScore)
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"), col("text"),
        col("q_score"))
  }

  /** AUDIO quality gate (round 14) — the audio `text_profile` face:
    * decode-real curation signals ([[graft.fn.AudioProfile]]:
    * clipping / silence / RMS / peak over the canonical mono stream
    * of WAV/FLAC/Vorbis payloads) filtering assets whose audio is
    * mostly silence, clipped, or too quiet. Completely STATELESS —
    * one codegen projection + filter, no state store, no watermark,
    * stream plan ≡ batch plan. Undecodable payloads drop (a gate
    * must know it measured, not pass garbage).
    *
    * Contract: assets (asset_id: long, ts: long nanos, content:
    * binary) → kept rows + (n_samples, clip_frac, silence_frac, rms).
    */
  def audioQualityGate(assets: DataFrame, maxClipFrac: Double = 0.01,
                       maxSilenceFrac: Double = 0.9,
                       minRms: Double = 0.005): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val p = gb.column(graft.fn.AudioProfile(gb.expression(col("content"))))
    assets
      .select(col("asset_id"), EventStreams.tsCol.as("ts_t"), col("content"),
        p.as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("asset_id"), col("ts_t"), col("content"),
        col("__p")(0).as("n_samples"),
        (col("__p")(2) / col("__p")(0)).as("clip_frac"),
        (col("__p")(3) / col("__p")(0)).as("silence_frac"),
        col("__p")(4).as("rms"))
      .filter(col("clip_frac") <= maxClipFrac &&
        col("silence_frac") <= maxSilenceFrac &&
        col("rms") >= minRms)
      .select(col("asset_id"), unix_micros(col("ts_t")).as("ts"),
        col("content"), col("n_samples").cast("long").as("n_samples"),
        col("clip_frac"), col("silence_frac"), col("rms"))
  }

  /** Streaming MANIFEST gate (round 15, VERDICT r14 item 6) —
    * HLS/DASH manifests arrive on crawl streams beside the CMAF
    * segments they index; parsing is completely STATELESS (the
    * [[graft.fn.HlsVariants]] / [[graft.fn.HlsSegments]] /
    * [[graft.fn.MpdRepresentations]] per-row codegen kernels routed
    * by a content sniff), so stream plan ≡ batch plan — no state
    * store, no watermark, no shuffle (DocStreamsSpec asserts
    * parity).  One row per discovered (kind, uri) with the link
    * attributes a per-title dedup joins on (q177's composition).
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string
    * manifest body) → rows (doc_id, ts micros, kind
    * variant|segment|representation, uri, bandwidth, codecs).
    */
  def manifestGate(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val t = col("text")
    val isHls = substring(t, 1, 7) === "#EXTM3U"
    val isMaster = t.contains("#EXT-X-STREAM-INF")
    val variants = gb.column(graft.fn.HlsVariants(gb.expression(t)))
    val segments = gb.column(graft.fn.HlsSegments(gb.expression(t)))
    val reps = gb.column(graft.fn.MpdRepresentations(gb.expression(t)))
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), t,
        when(isHls && isMaster, variants)
          .otherwise(array().cast(graft.fn.HlsVariants.Schema)).as("__v"),
        when(isHls && !isMaster, segments)
          .otherwise(array().cast(graft.fn.HlsSegments.Schema)).as("__s"),
        when(!isHls, reps)
          .otherwise(array().cast(graft.fn.MpdRepresentations.Schema)).as("__r"))
      .select(col("doc_id"), col("ts_t"),
        explode(concat(
          transform(col("__v"), v => struct(
            lit("variant").as("kind"), v.getField("uri").as("uri"),
            v.getField("bandwidth").as("bandwidth"),
            v.getField("codecs").as("codecs"))),
          transform(col("__s"), x => struct(
            lit("segment").as("kind"), x.getField("uri").as("uri"),
            lit(null).cast("long").as("bandwidth"),
            lit(null).cast("string").as("codecs"))),
          transform(col("__r"), r => struct(
            lit("representation").as("kind"), r.getField("media").as("uri"),
            r.getField("bandwidth").as("bandwidth"),
            r.getField("codecs").as("codecs"))))).as("__e"))
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
        col("__e.kind").as("kind"), col("__e.uri").as("uri"),
        col("__e.bandwidth").as("bandwidth"), col("__e.codecs").as("codecs"))
      .where(col("uri").isNotNull)
  }

  /** TRAINED language gate ([[graft.ext.LangId]], round 12) — the
    * model-based language filter next to [[qualityModelGate]]:
    * K per-language σ(w_k·x) scores over fixed character-n-gram
    * features with LITERAL trained weights, deterministic argmax,
    * keep-set filter. Completely STATELESS — one codegen projection
    * + filter, no state store, no watermark, stream plan ≡ batch
    * plan (DocStreamsSpec asserts parity and batch-operator
    * decision-identity).
    *
    * Contract: docs (doc_id: long, ts: long nanos, text: string) →
    * kept (doc_id, ts micros, text, lang_pred).
    */
  def langGate(docs: DataFrame, keep: Seq[String],
               weights: Seq[Seq[Double]] = graft.ext.LangId.PinnedW): DataFrame =
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("text"))
      .withColumn("__f", graft.ext.LangId.features(col("text")))
      .withColumn("lang_pred", graft.ext.LangId.classify(col("__f"), weights))
      .filter(col("lang_pred").isin(keep: _*))
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"), col("text"),
        col("lang_pred"))

  /** Streaming SUBTITLE-TEXT gate (round 13, VERDICT r12 item 6) —
    * the path by which streamed video corpora become TRAINING TEXT:
    * subtitle payloads route by a container sniff (codegen substring
    * — `ftyp` → the MP4 wvtt/stpp walk, the EBML magic → the WebM
    * S_TEXT walk, else standalone WebVTT/SRT/TTML bytes through
    * `charset_decode`, since standalone files arrive in legacy
    * encodings while container payloads are UTF-8 by spec), extract
    * to cues, and each cue lands as one text row with the stateless
    * language-ID appended. EVERY kernel is a per-row codegen
    * Expression — no state store, no watermark, no shuffle — so
    * stream plan ≡ batch plan (the q162 batch composition is the
    * template; DocStreamsSpec asserts parity over all three
    * carriages).
    *
    * Contract: docs (doc_id: long, ts: long nanos, content: binary,
    * charset: string label for the standalone arm) → cues (doc_id,
    * ts micros, cue_idx, start_ms, end_ms, text, lang_pred).
    * `keepLangs` non-empty filters to those languages ("none" rows
    * drop unless listed).
    */
  def subtitleGate(docs: DataFrame, keepLangs: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val c = col("content")
    val isMp4 = substring(c, 5, 4).cast("string") === "ftyp"
    val isWebm = hex(substring(c, 1, 4)) === "1A45DFA3"
    val mp4Cues = gb.column(graft.fn.Mp4SubtitleCues(gb.expression(c)))
    val webmCues = gb.column(graft.fn.WebmSubtitleCues(gb.expression(c)))
    val dec = gb.column(graft.fn.CharsetDecode(
      gb.expression(coalesce(col("charset"), lit("utf-8"))), gb.expression(c)))
    val textCues = gb.column(graft.fn.SubtitleCues(
      gb.expression(dec.getField("text"))))
    val cues = when(isMp4, mp4Cues).when(isWebm, webmCues).otherwise(textCues)
    val rows = docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), cues.as("__cues"))
      .filter(col("__cues").isNotNull)
      .select(col("doc_id"), col("ts_t"),
        posexplode(col("__cues")).as(Seq("cue_idx", "__c")))
      .select(col("doc_id"), col("ts_t"), col("cue_idx"),
        col("__c.start_ms").as("start_ms"), col("__c.end_ms").as("end_ms"),
        col("__c.text").as("text"))
      // features land in their OWN projection (referenced twice by
      // classify, so CollapseProject keeps the split): inlining the
      // 36-replace array into the 9-head argmax exceeds the 64 KB
      // generated-method limit and silently falls back to
      // interpreted eval (LangIdSpec compiles this shape with
      // codegen fallback off)
      .withColumn("__f", graft.ext.LangId.features(col("text")))
      .withColumn("lang_pred", graft.ext.LangId.classify(
        col("__f"), graft.ext.LangId.PinnedW))
    val kept =
      if (keepLangs.isEmpty) rows
      else rows.filter(col("lang_pred").isin(keepLangs: _*))
    kept.select(col("doc_id"), unix_micros(col("ts_t")).as("ts"),
      col("cue_idx"), col("start_ms"), col("end_ms"), col("text"),
      col("lang_pred"))
  }

  /** EXACT-substring contamination gate — the [[graft.ext.SpanDedup]]
    * screen on streams: drop arriving docs whose L-char-window overlap
    * with a STATIC reference corpus (benchmark/eval suites) exceeds
    * `maxHitFrac`. Completely STATELESS: the reference rides the plan
    * as a broadcast primitive-set handle
    * ([[graft.ext.SpanDedup.collectWindowSet]]) and each doc is
    * screened by one narrow kernel pass — no watermark, no state
    * store, stream plan ≡ batch plan. Docs without a full window pass
    * (no evidence of contamination).
    */
  def substringContaminationGate(docs: DataFrame,
                                 refSet: org.apache.spark.broadcast.Broadcast[graft.fn.LongHashSet],
                                 L: Int, maxHitFrac: Double,
                                 xx: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val s = gb.column(graft.fn.CharWindowHits(
      gb.expression(col("text")), L, xx, refSet))
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("text"),
        s.as("__cw"))
      .filter(col("__cw").isNull ||
        col("__cw.hits").cast("double") / col("__cw.n_windows").cast("double")
          <= maxHitFrac)
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"), col("text"),
        coalesce(col("__cw.hits"), lit(0L)).as("ref_hits"),
        coalesce(col("__cw.n_windows"), lit(0L)).as("n_windows"))
  }

  /** Streaming IMAGE dedup gate — the media face of the dedup family
    * (the text gates above all have one; this closes the image/video
    * gap): decode → 9×8 dHash via the narrow
    * [[graft.fn.ImageDhash64]] kernel (stateless, in the scan span),
    * then the SAME 16-bit band decomposition the batch pair stage
    * uses ([[graft.ext.Images.nearDupPairsFromHashes]]), as
    * watermark-bounded first-occupant state: each band deposits into
    * `dropDuplicatesWithinWatermark(band, band_val)`, and an asset is
    * kept only when ALL its bands were first occupants — the
    * [[nearDupFilter]] chain with dHash bands in place of MinHash
    * bands.
    *
    * Semantics note (same conservatism contract as
    * [[sharedSpanFilter]]): by pigeonhole, any later image within
    * `bands − 1` hamming of an in-horizon earlier one shares a band
    * and drops — the gate never keeps an image the batch
    * `maxHamming < bands` pair stage would pair; a single colliding
    * band (hamming possibly > maxHamming) also drops, which is
    * strictly more aggressive, never less.
    *
    * Undecodable payloads (null dHash) drop — a dedup gate passes
    * images it can VOUCH for; route triage of broken files through
    * [[graft.ext.MediaMeta]], not a dedup state.
    *
    * Contract: assets (asset_id: long, ts: long nanos, content:
    * binary) → kept (asset_id, ts·micros, dhash). On a batch frame
    * the per-bucket winner is the deterministic (ts, id)-minimum,
    * which guarantees each collision component keeps ≥ 1
    * representative; streaming keeps first-arrival state
    * (deterministic across micro-batches; within one batch the
    * winner is arrival-order — bounded by trigger granularity).
    */
  def imageDedupGate(assets: DataFrame, bands: Int = 4,
                     horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    bandDedupGate(assets,
      gb.column(graft.fn.ImageDhash64(gb.expression(col("content")))),
      bands, horizon)
  }

  /** The AUDIO face of [[imageDedupGate]] (round 9): the energy-band
    * fingerprint of decoded WAV/FLAC/Ogg-Vorbis PCM
    * ([[graft.fn.AudioFingerprint64]]; Vorbis via the round-10
    * [[graft.ext.VorbisDecode]] signal path) through the same
    * watermark-bounded band state — identical conservatism contract,
    * identical output shape.
    */
  def audioDedupGate(assets: DataFrame, bands: Int = 4,
                     horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    bandDedupGate(assets,
      gb.column(graft.fn.AudioFingerprint64(gb.expression(col("content")))),
      bands, horizon)
  }

  /** The VIDEO face: first-keyframe dHash from the real H.264 decode
    * (CAVLC or, round 9, CABAC Main-profile keyframes) through the
    * same watermark-bounded band state.
    */
  def videoDedupGate(assets: DataFrame, bands: Int = 4,
                     horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    bandDedupGate(assets,
      gb.column(graft.fn.Mp4KeyframeDhash64(gb.expression(col("content")))),
      bands, horizon)
  }

  /** The ANY-FRAME video face (round 12): every decoded frame of the
    * full I/P/B GOP indexes the asset
    * ([[graft.fn.H264GopDhashes]] — DPB, multi-ref, bi-prediction,
    * weighted prediction, fMP4 all run), so a mid-GOP re-encode that
    * shares NO keyframe with its source still collides. The bucket
    * list per asset — distinct (band, band_val) pairs over the
    * distinct frame hashes — is built STATELESSLY with array ops, so
    * the stateful step is the same watermark-bounded first-wins band
    * state as the single-hash gates; an asset is admitted iff it
    * wins EVERY bucket it occupies (the multi-hash twin of the
    * all-bands rule, batch==stream by the same winner discipline).
    */
  def videoAnyFrameDedupGate(assets: DataFrame, maxFrames: Int = 16,
                             bands: Int = 4,
                             horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    require(bands >= 1 && 16 * bands == 64, s"bands must split 64 bits; got $bands")
    // container-ROUTED index (round 14): MP4 → full H.264 GOP,
    // WebM → all VP8 keyframes; one stream admits both containers
    val hashes = array_distinct(gb.column(graft.fn.VideoGopDhashes(
      gb.expression(col("content")), maxFrames)))
    val perBand = (0 until bands).map { bi =>
      transform(hashes, h => struct(lit(bi).as("band"),
        shiftrightunsigned(h, 16 * bi).bitwiseAND(lit(0xffffL)).as("band_val")))
    }
    val buckets = array_distinct(flatten(array(perBand: _*)))
    val rows = assets
      .select(col("asset_id"), EventStreams.tsCol.as("ts_t"), buckets.as("__bk"))
      .filter(col("__bk").isNotNull && size(col("__bk")) > 0)
      .select(col("asset_id"), col("ts_t"), size(col("__bk")).as("__nb"),
        explode(col("__bk")).as("__b"))
      .select(col("asset_id"), col("ts_t"), col("__nb"),
        col("__b.band").as("band"), col("__b.band_val").as("band_val"))
      .withWatermark("ts_t", horizon)
    val surviving =
      if (rows.isStreaming)
        rows.dropDuplicatesWithinWatermark(Seq("band", "band_val"))
      else {
        val win = rows.groupBy(col("band"), col("band_val"))
          .agg(min(struct(col("ts_t"), col("asset_id"))).as("__w"))
        rows.join(win, Seq("band", "band_val"))
          .where(struct(col("ts_t"), col("asset_id")) === col("__w"))
          .drop("__w")
      }
    surviving
      .groupBy(col("ts_t"), col("asset_id"), col("__nb"))
      .agg(count(lit(1)).as("__won"))
      .filter(col("__won") === col("__nb"))
      .select(col("asset_id"), unix_micros(col("ts_t")).as("ts"))
  }

  private def bandDedupGate(assets: DataFrame,
                            fingerprint: org.apache.spark.sql.Column,
                            bands: Int, horizon: String): DataFrame = {
    require(bands >= 1 && 16 * bands == 64, s"bands must split 64 bits; got $bands")
    val hashed = assets
      .select(col("asset_id"), EventStreams.tsCol.as("ts_t"),
        fingerprint.as("dhash"))
      .filter(col("dhash").isNotNull)
    val bandStructs = (0 until bands).map { bi =>
      struct(lit(bi).as("band"),
        shiftrightunsigned(col("dhash"), 16 * bi)
          .bitwiseAND(lit(0xffffL)).as("band_val"))
    }
    val banded = hashed
      .select(col("asset_id"), col("ts_t"), col("dhash"),
        explode(array(bandStructs: _*)).as("__bs"))
      .select(col("asset_id"), col("ts_t"), col("dhash"),
        col("__bs.band").as("band"), col("__bs.band_val").as("band_val"))
      .withWatermark("ts_t", horizon)
    // Per-bucket WINNER selection. Batch mode picks the (ts, id)-MIN
    // occupant of every bucket — a deterministic total order, which
    // guarantees every collision component keeps ≥ 1 representative
    // (the component's minimum wins ALL its buckets; arbitrary
    // dropDuplicates winners could split a pair's buckets between
    // them and drop BOTH). Streaming keeps first-arrival state
    // (cross-batch arrivals are deterministic); within one
    // micro-batch the winner is arrival-order — the documented
    // caveat, bounded by trigger granularity.
    val surviving =
      if (banded.isStreaming)
        banded.dropDuplicatesWithinWatermark(Seq("band", "band_val"))
      else {
        val win = banded.groupBy(col("band"), col("band_val"))
          .agg(min(struct(col("ts_t"), col("asset_id"))).as("__w"))
        banded.join(win, Seq("band", "band_val"))
          .where(struct(col("ts_t"), col("asset_id")) === col("__w"))
          .drop("__w")
      }
    surviving
      .groupBy(col("ts_t"), col("asset_id"), col("dhash"))
      .agg(count(lit(1)).as("__nb"))
      .filter(col("__nb") === bands)
      .select(col("asset_id"), unix_micros(col("ts_t")).as("ts"), col("dhash"))
  }

  /** Admitted row of [[domainQuotaGate]]: `seq` is the 1-based
    * admission index within the page's (domain, window) group.
    */
  final case class AdmittedPage(doc_id: Long, ts: Long, domain: String,
                                win_start: Long, seq: Int)

  /** Internal state of [[domainQuotaGate]] (public: the state
    * encoder's generated code needs constructor access).
    */
  final case class QuotaCount(n: Int)

  /** WINDOWED per-domain admission quota — the bounded streaming form
    * of q130's cap. [[crawlGate]]'s scaladoc argues a GLOBAL
    * k-per-domain cap is unbounded state on an infinite stream by
    * definition; the streaming-native semantics is k per domain per
    * TUMBLING WINDOW (crawl rate limiting), where state is one
    * counter per (domain, window) inside the watermark horizon,
    * timeout-evicted when the watermark passes the window end —
    * bounded, `flatMapGroupsWithState` with event-time timeouts (the
    * [[EventStreams.sessionizeCustomState]] shape).
    *
    * Admission order: within one micro-batch, (event-time, doc_id)
    * ascending — on a single-trigger frame this is exactly the batch
    * `row_number() <= k` form (the parity test's gate); across
    * micro-batches admission is arrival order, the same first-come
    * convention as every other streaming gate here. Pages whose URL
    * does not normalize drop (no domain evidence), and rows later
    * than the watermark drop BEFORE the operator (Spark's stateful
    * late-row filter) — so an evicted window's quota cannot be
    * re-opened by stragglers: the decision is final within the
    * horizon.
    *
    * On a batch frame the same contract runs as the window-function
    * form. Contract: pages (doc_id: long, ts: long nanos, url:
    * string) → [[AdmittedPage]] (ts and win_start in epoch micros).
    */
  def domainQuotaGate(pages: DataFrame, k: Int = 2,
                      window: String = "1 hour",
                      watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[AdmittedPage] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{graftbridge => gb}
    val spark = pages.sparkSession
    import spark.implicits._
    val normed = gb.column(graft.fn.UrlNormalize(gb.expression(col("url"))))
    // _1 domain, _2 win_start µs, _3 win_end µs, _4 doc_id, _5 ts µs,
    // _6 the watermarked event-time column (must stay visible to the
    // stateful operator for event-time timeouts)
    val keyed = pages
      .withColumn("ts_t", EventStreams.tsCol)
      .withWatermark("ts_t", watermark)
      .withColumn("__u", normed)
      .filter(col("__u.domain").isNotNull)
      .withColumn("__w", org.apache.spark.sql.functions.window(col("ts_t"), window))
      .select(col("__u.domain").as("_1"),
        unix_micros(col("__w.start")).as("_2"),
        unix_micros(col("__w.end")).as("_3"),
        col("doc_id").as("_4"),
        expr("ts div 1000").as("_5"),
        col("ts_t").as("_6"))
      .as[(String, Long, Long, Long, Long, java.sql.Timestamp)]

    if (pages.isStreaming) {
      def fn(key: (String, Long),
             batch: Iterator[(String, Long, Long, Long, Long, java.sql.Timestamp)],
             state: GroupState[QuotaCount]): Iterator[AdmittedPage] = {
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val rows = batch.toSeq.sortBy(r => (r._5, r._4))
          var n = state.getOption.map(_.n).getOrElse(0)
          val out = scala.collection.mutable.ArrayBuffer[AdmittedPage]()
          rows.foreach { r =>
            if (n < k) {
              n += 1
              out += AdmittedPage(r._4, r._5, key._1, key._2, n)
            }
          }
          state.update(QuotaCount(n))
          // evict once the watermark passes the window end (must be
          // strictly ahead of the current watermark to be accepted)
          state.setTimeoutTimestamp(
            math.max(rows.head._3 / 1000L, state.getCurrentWatermarkMs() + 1))
          out.iterator
        }
      }
      keyed.groupByKey(r => (r._1, r._2))
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("_1"), col("_2")).orderBy(col("_5"), col("_4"))
      keyed.toDF()
        .withColumn("seq", row_number().over(w))
        .filter(col("seq") <= k)
        .select(col("_4").as("doc_id"), col("_5").as("ts"),
          col("_1").as("domain"), col("_2").as("win_start"),
          col("seq").cast("int").as("seq"))
        .as[AdmittedPage]
    }
  }

  def perplexityGate(docs: DataFrame, model: Map[String, Long],
                     total: Long, vocab: Long, maxPpl: Double,
                     alpha: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    val nll = gb.column(graft.fn.UnigramNll(
      gb.expression(col("text")), model, total, vocab, alpha))
    docs
      .select(col("doc_id"), EventStreams.tsCol.as("ts_t"), col("text"),
        nll.as("__s"))
      .filter(col("__s").isNotNull && exp(col("__s.avg_nll")) <= maxPpl)
      .select(col("doc_id"), unix_micros(col("ts_t")).as("ts"), col("text"),
        col("__s.avg_nll").as("avg_nll"), exp(col("__s.avg_nll")).as("ppl"))
  }
}
