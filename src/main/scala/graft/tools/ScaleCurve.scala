package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale curve for the corpus-family operators (dev tool, like
  * [[PlanAudit]]): generate documents/embeddings at two scales with the
  * SAME deterministic generator — 5k docs (the sf0.1 shape) and 50k docs
  * (a synthesized sf1) — run the dd/t/sim family at both, and write the
  * measured 10x cost ratios to SCALING.md.
  *
  * This is the measured evidence behind the 100-TB plan claims: the
  * banded/bucketed ops (dd3/dd7/dd10, t6/t9/t12, sim2/sim5) are DESIGNED
  * to scale near-linearly because no task ever holds a whole stratum and
  * every pairwise op is blocked by a key whose cardinality grows with the
  * corpus — PLANS.md proves the plan shapes, this tool measures the
  * constant factors at a real 10x step.
  *
  * Generator mirrors the driver's sf0.1 distributions (10-100 words/doc,
  * 41% en / 4x ~15% skew, 20 sources, 64-dim embeddings in 10 label
  * clusters) over a Zipf(~1) 10k-token vocabulary (see [[VocabSize]]) and
  * plants duplicate structure: ~3% of docs are exact copies of a group
  * base, ~5% near copies (one appended token) — so dedup selectivity is
  * realistic at both scales. Everything derives from the row id via
  * xxhash64; both scales are bit-reproducible.
  *
  * Excluded by contract (documented in SCALING.md): dd6_embed_dups is the
  * all-pairs-within-block BASELINE op — quadratic per block by definition;
  * its scale path is sim2/dd7. sim3_ann_ivf's KMeans fit is the index
  * BUILD (one-time); its per-batch paths are sim3_assign/sim5.
  */
object ScaleCurve {

  /** Vocabulary size for the document generator: Zipf(~1) over 10k
    * tokens via a log-uniform rank draw — rank = floor(V^u) with u
    * uniform, so P(rank = r) ~ ln((r+1)/r)/ln V ∝ 1/r, the head/tail
    * shape of real text. The round-7 generator's 30-word vocabulary
    * saturated the MinHash band-key space (measured x68/decade candidate
    * growth and a ~200 GB verify spill at sf10g — artifacts of the
    * fixture, not of the banded plan); with 10k tokens the bigram
    * shingle space is ~10^8 and random-pair Jaccard drops to ~0.01, so
    * the deep-decade dedup rows measure the operators. */
  private val VocabSize = 10000

  /** Curve queries: every corpus-family op whose 100-TB story SCALING.md
    * backs. All read only documents/embeddings. */
  private val Curve = Seq(
    "dd1_exact_dedup", "dd2_minhash_sig", "dd3_lsh_candidates", "dd4_simhash",
    "dd5_ngram_jaccard", "dd7_lsh_verified", "dd8_dup_clusters",
    "dd9_dedup_corpus", "dd10_simhash_dups", "dd11_best_rep",
    "dd12_norm_dedup", "dd13_incremental", "dd14_simhash_corpus",
    "dd15_bloom_membership", "dd17_source_cap", "dd21_lsh_prod_bands",
    "dd22_dedup_corpus_prod", "dd23_incremental_prod",
    "t1_langid", "t2_quality", "t3_token_counts", "t4_fingerprint",
    "t5_tfidf", "t6_stratified_sample", "t7_contamination", "t8_unigram_lm",
    "t9_pack_shards", "t10_repetition", "t11_pii", "t12_mixture", "t13_chunks",
    "t14_lm_crossppl", "t15_ngram_coverage", "t16_heavy_hitters",
    "sim1_knn", "sim2_ann_lsh", "sim3_assign", "sim4_quantize",
    "sim5_ivf_assign", "sim6_pq_encode", "sim6_pq_adc", "sim7_cosine_range",
    "dd18_lsh_quality", "t18_zipf", "t19_source_overlap",
    "t20_containment", "q7_corpus_integrity", "e2e_corpus_assembly",
    "dd19_chunk_dedup", "t21_dsir_weights", "t22_centrality", "t23_bpe",
    "q8_dataset_card", "sim8_mips", "e2e_llm_prep",
    // events family (reads the generated events.parquet)
    "j12_asof", "j13_interval_join", "e3_retention", "e4_funnel",
    "e5_active_users", "w11_ewma", "a2_daily_stats", "w4_sessionize",
    "e6_session_paths", "e7_rfm", "e8_transitions", "e10_cohort_matrix",
    "w12_rolling_mad", "d5_psi", "m8_roc_sweep",
    "m9_learning_curve", "m10_bootstrap_ci", "m11_best_threshold",
    "m12_attribution", "a11_naps_daily", "c4_units", "e9_survival",
    "e11_attribution", "w13_seasonal", "d6_cusum", "j14_scd2",
    "m13_feature_corr", "m14_label_timeline", "m15_feature_hist",
    "q9_coverage_by_year",
    // round-7 continuation: sketches, LM/QC upgrades, resampling, ANN
    // drift, image aHash
    "t24_bigram_lm", "t25_hll_diversity", "t26_countmin",
    "t27_langid_confusion", "t28_dsir_sample", "dd20_snapshot_diff",
    "sim10_centroid_drift", "mm3_pixels", "mm6_image_ahash",
    "d7_page_hinkley", "e12_time_to_convert", "m16_avg_precision",
    "m17_slice_metrics",
    "t29_hll_overlap", "t30_novelty", "q11_shard_manifest",
    "mm7_audio_fingerprint", "m18_score_ks", "e13_new_users",
    "sim11_random_projection",
    // round-8/9 additions (first decade; per-row map-only passes)
    "t31_gopher_rules", "t32_c4_rules",
    // round-10: the C4 composition (gate + line-clean + chunk dedup +
    // BPE pricing), and the stride-1 ExactSubstr family (span detect,
    // soft down-weighting, cut-and-reassemble)
    "e2e_c4_prep", "dd24_dup_spans", "dd25_soft_dedup", "dd26_substr_cut",
    "dd27_decontam_cut", "mm8_scene_cuts", "e2e_decontam_prep",
    "dd21_lsh_wide_bands",
    // round-11: the ExactSubstr family at its production window (W=50,
    // Lee et al.'s corpus knob) — stride-1 window volume is corpus
    // tokens regardless of W, but the duplicated mass and cut-expansion
    // constant are W-shaped, so the prod knob gets its own curve.
    "dd24_dup_spans_prod", "dd26_substr_cut_prod", "dd27_decontam_cut_prod",
    // round-11: PII span redaction (cut form), host-grain URL dedup+cap,
    // and the soft-dedup-weighted DSIR sampler composition.
    "dd28_pii_redact", "dd29_host_cap", "t33_soft_sample",
    // round-12: image near-dup clustering (the text banding machinery on
    // aHash signatures), the learned quality classifier (fused
    // bucket-count features + deterministic GD-LR, map-only scoring),
    // and the cross-modal composition (image clusters -> text dedup).
    "mm9_image_near_dup", "t34_quality_clf", "mm10_crossmodal_dedup",
    // round-13: the wide-hash response for images (256-bit aHash,
    // 16 bands of 16 — dd21_wide's treatment at the image grain), and
    // the fixture now grows distinct signatures with the corpus
    // (per-group gradient slopes), so these rows measure the BANDED
    // JOIN's depth behavior, not just decode+hash; mm11 is the audio
    // near-dup analog (window-count-blocked fingerprint banding over a
    // signature space that grows with the corpus)
    "mm9_wide", "mm11_audio_near_dup",
    // round-13: the video near-dup analog (temporal hash over demuxed
    // frame means, frame-count-blocked banding), and the adaptive-width
    // response to the audio banding's measured degenerate-block floor
    "mm12_video_near_dup", "mm11_adaptive_bands",
    // round-13: t22's PageRank at dd21's production-banded edge set —
    // the curve that replaces the argument-by-reference for the audit
    // knob's super-linear rows
    "t22_prod")

  /** Second-decade subset (sf1g -> sf10g, 500k docs): the dedup/sim
    * family whose 100-TB structural claims rest on the measured curve —
    * a single decade can hide super-linear terms that only emerge once
    * absolute sizes grow. Excludes the output-quadratic audit forms
    * (dd10/sim7 — their >10 ratios are already structurally explained
    * and grow ~100x per decade by design) and the dd8-derived attach
    * variants (dd9/dd11 — dd8 itself carries the star-contraction
    * claim). Min of 2 timed runs at sf10g, like the first two scales:
    * back-to-back identical full runs measured dd7 at 62 s then 134 s —
    * host noise scales with run length, so the min matters MORE at
    * depth. */
  private val CurveDeep: Set[String] = Set(
    "dd1_exact_dedup", "dd2_minhash_sig", "dd3_lsh_candidates", "dd4_simhash",
    // dd8/dd9/t22 joined the deep set in round 8: the round-7 30-word
    // vocabulary saturated the band-key space (x68/decade candidate
    // growth, ~200 GB verify spill at sf10g — fixture artifacts); the
    // Zipf 10k-token vocabulary keeps random-pair Jaccard near 0.01, so
    // these now measure the operators themselves. dd7 was measured at
    // depth in round 8 (ratio2 15.2) and then formally moved to the
    // audit-form exclusion list (see the narrative below): at its
    // oracle-verifiable knobs (2 rows/band, J>=0.05) its OUTPUT grows
    // ~35x/decade by the banding collision floor; the production-knob
    // LSH-verify surface measured at depth is dd21.
    "dd5_ngram_jaccard", "dd8_dup_clusters",
    "dd9_dedup_corpus", "t22_centrality", "dd21_lsh_prod_bands",
    "dd12_norm_dedup", "dd13_incremental", "dd14_simhash_corpus",
    "dd15_bloom_membership", "dd17_source_cap", "dd18_lsh_quality",
    "dd22_dedup_corpus_prod", "dd23_incremental_prod",
    "t7_contamination", "sim2_ann_lsh", "sim3_assign", "sim4_quantize",
    "sim5_ivf_assign", "sim6_pq_encode", "sim6_pq_adc",
    "dd19_chunk_dedup", "t21_dsir_weights",
    // round-7 continuation deep set: one-pass sketch/LM/diff/resample
    // shapes whose 100-TB claims deserve the second decade
    "t24_bigram_lm", "t25_hll_diversity", "t26_countmin",
    "t28_dsir_sample", "dd20_snapshot_diff", "sim10_centroid_drift",
    "t29_hll_overlap", "t30_novelty", "q11_shard_manifest",
    "mm7_audio_fingerprint", "sim11_random_projection",
    // round-9: the image decode family joins the deep set. The per-image
    // codec kernel is embarrassingly parallel in theory; the measured
    // second decade (50k -> 500k tiny PNGs, encode+decode per row)
    // replaces that theory with a number — if ImageIO churn (allocator
    // pressure, codec-instance contention) composed superlinearly it
    // would show here and nowhere else.
    "mm3_pixels", "mm6_image_ahash",
    // round-8: the event/window family joins the deep set (2M events) —
    // dedup/sim had two measured decades while the sessionize/path/asof
    // operators a 100-TB event store leans on rested on one.
    "w4_sessionize", "e6_session_paths", "j12_asof", "j13_interval_join",
    // round-8: the two flagship COMPOSITIONS get the second decade too —
    // a pipeline of individually-linear stages can still compose a
    // superlinear term (shared-scan replays, candidate cross products);
    // measuring the composed query is the only way to rule that out.
    "e2e_corpus_assembly", "e2e_llm_prep", "e2e_c4_prep",
    // round-10: the stride-1 ExactSubstr family joins the deep set —
    // its window volume is TOKENS per corpus (every token opens a
    // window), an order denser than dd19's token/k chunks, so the
    // second decade is where a hidden superlinearity would surface.
    // Its composition (gate -> substr cut -> decontam -> BPE) gets the
    // same treatment as the other three e2e pipelines.
    "dd24_dup_spans", "dd25_soft_dedup", "dd26_substr_cut",
    "e2e_decontam_prep",
    // round-10: the wide-banding response measured wherever the
    // production banding is
    "dd21_lsh_wide_bands",
    // round-11: the production-window ExactSubstr family joins the deep
    // set alongside its W=4 audit forms; DeepDocsProbe carries these
    // three into the third/fourth docs scales (DEEPDOCS.json).
    "dd24_dup_spans_prod", "dd26_substr_cut_prod", "dd27_decontam_cut_prod",
    // round-11: the PII span cut (per-doc window/agg chain — the regex
    // flag pass dominates) and the host cap (the planted hot host is
    // 40% of the corpus, so the second decade measures the two-phase
    // cap doing real skew work).
    "dd28_pii_redact", "dd29_host_cap",
    // round-12: t33's second decade (its TakeOrdered tail is scale-safe
    // by shape — this row shows it, closing the blank sf10g column);
    // t34's corpus side is map-only scoring whose second decade should
    // track the scan. mm9's round-13 fixture fix (per-group gradient
    // slopes + >= thumbnail dims) answered the signature-graph
    // question: distinct sigs now grow ~n, so its deep row measures the
    // 64-bit banding's REAL collision floor (BANDCANDS image rows: 115
    // cands/sig at 0.5M docs) — kept here WITH that annotation, dd8's
    // treatment; the registered response measured alongside is
    // mm9_wide.
    "t33_soft_sample", "t34_quality_clf", "mm9_image_near_dup",
    // the cross-modal composition joins its components' deep set — a
    // pipeline of individually-linear stages can still compose a
    // superlinear term (the e2e rationale)
    "mm10_crossmodal_dedup",
    // round-13: the image wide-banding response measured at depth (the
    // 64-bit form is excluded there by its measured floor — see the
    // CurveDeep note above), plus the audio and video near-dup bandings
    // whose fingerprint spaces grow with the corpus
    "mm9_wide", "mm11_audio_near_dup", "mm12_video_near_dup",
    "mm11_adaptive_bands",
    // round-13: the production-banded PageRank gets the second decade
    // its audit-knob sibling cannot carry
    "t22_prod")

  /** Event-family THIRD decade: the four core event operators are
    * additionally measured on a 20M-event / 300k-user corpus (events
    * only — the documents/embeddings in that dir stay minimal; these
    * queries read none of them). Three measured decades (200k -> 2M ->
    * 20M) for the operators whose per-user window/sort behavior is the
    * 100-TB event-store risk. */
  private val CurveDeepEvents: Set[String] = Set(
    "w4_sessionize", "e6_session_paths", "j12_asof", "j13_interval_join")

  private def h(cols: org.apache.spark.sql.Column*) = xxhash64(cols: _*)

  /** Parse a committed JSON artifact (DeepDocsProbe / ProfileE2E output)
    * if present and well-formed; None otherwise. Jackson comes with the
    * Spark classpath. */
  private def readJson(path: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val f = new java.io.File(path)
    if (!f.exists()) None
    else try Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f))
    catch { case e: Throwable =>
      System.err.println(s"[scale] unreadable $path: ${e.getMessage}"); None
    }
  }

  /** documents.parquet at `path`: deterministic word-salad docs with
    * planted exact/near duplicate groups (group base = id - id%17). */
  def genDocuments(spark: SparkSession, n: Long, path: String): Unit = {
    val ids = spark.range(n)
    val r = pmod(h(col("id"), lit("d")), lit(100))
    val base = col("id") - pmod(col("id"), lit(17))
    val seed = when(r < 8, base).otherwise(col("id"))
    val nw = (pmod(h(seed, lit("w")), lit(91)) + 10).cast("int")
    val words = transform(sequence(lit(0), nw - 1), i => {
      // log-uniform rank in [1, VocabSize) -> Zipf(~1) token frequency
      val u = pmod(h(seed, lit("_"), i), lit(1000000)) / lit(1000000.0)
      concat(lit("w"), floor(pow(lit(VocabSize.toDouble), u)).cast("long"))
    })
    val text = concat(array_join(words, " "),
      // near-dup band: same base words plus one appended token
      when(r >= 3 && r < 8, concat(lit(" dup"), pmod(col("id"), lit(7))))
        .otherwise(lit("")))
    val lp = pmod(h(col("id"), lit("l")), lit(100))
    val lang = when(lp < 41, "en").when(lp < 56, "de").when(lp < 71, "es")
      .when(lp < 86, "fr").otherwise("zh")
    ids.select(
        col("id").as("doc_id"),
        text.as("text"),
        lang.as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(path)
  }

  /** embeddings.parquet at `path`: 64-dim float vectors in 10 label
    * clusters (center 0.6-weighted + per-id noise), components ~[-0.5, 0.5]
    * like the driver's fixture. */
  def genEmbeddings(spark: SparkSession, n: Long, path: String): Unit = {
    val ids = spark.range(n)
    val label = pmod(h(col("id"), lit("L")), lit(10)).cast("int")
    val emb = transform(sequence(lit(0), lit(63)), d => {
      val center = (pmod(h(label, lit("c"), d), lit(1001)) - 500) / lit(1000.0)
      val noise = (pmod(h(col("id"), lit("n"), d), lit(1001)) - 500) / lit(1250.0)
      (center * 0.6 + noise).cast("float")
    })
    ids.select(col("id").as("vec_id"), emb.as("embedding"), label.as("label"))
      .write.mode("overwrite").parquet(path)
  }

  /** events.parquet at `path`: the driver's events shape (30-day span, 5
    * event types, uniform values 0-200, JSON-ish props) with `users`
    * distinct users — event volume scales WITH the user population, the
    * horizontal-growth axis a 100-TB event store actually has. */
  def genEvents(spark: SparkSession, n: Long, users: Long, path: String): Unit = {
    val ids = spark.range(n)
    // 2024-01-01T00:00:00Z + random (day, microsecond-of-second) offsets
    val ts = timestamp_micros(lit(1704067200000000L) +
      pmod(h(col("id"), lit("t")), lit(30L * 86400)) * 1000000L +
      pmod(h(col("id"), lit("us")), lit(1000000L)))
    val types = typedLit(Seq("click", "error", "purchase", "signup", "view"))
    ids.select(
        col("id").as("event_id"),
        ts.as("ts"),
        pmod(h(col("id"), lit("usr")), lit(users)).as("user_id"),
        element_at(types, (pmod(h(col("id"), lit("e")), lit(5)) + 1).cast("int"))
          .as("event_type"),
        (pmod(h(col("id"), lit("v")), lit(20000)) / lit(100.0)).as("value"),
        concat(lit("{\"k\": "), pmod(h(col("id"), lit("k")), lit(1000)), lit("}"))
          .as("props"))
      .write.mode("overwrite").parquet(path)
  }

  /** Generator version: bump whenever ANY generator distribution above
    * changes. The ensure* helpers regenerate a /tmp fixture whose marker
    * file doesn't carry the current version — without this, a generator
    * change (like round 8's 30-word -> Zipf-10k vocabulary fix) would
    * silently reuse stale fixtures from earlier rounds and republish
    * fixture artifacts (the ~200 GB band-key spill) as operator
    * behavior. */
  val FixtureVersion = "v2-zipf10k"
  private def markerFile(dir: String) =
    new java.io.File(s"$dir/_GRAFT_FIXTURE_VERSION")
  private def markerCurrent(dir: String): Boolean =
    try markerFile(dir).exists() &&
      java.nio.file.Files.readString(markerFile(dir).toPath).trim == FixtureVersion
    catch { case _: Throwable => false }
  private def writeMarker(dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(markerFile(dir).toPath, FixtureVersion + "\n")
  }

  /** [[ensureScale]] at the sf1g shape, for [[CoreScale]] (the 8-vs-32
    * core probe shares this tool's fixture exactly). */
  def ensureSf1g(spark: SparkSession, dir: String): Unit =
    ensureScale(spark, dir, 50000L, 20000L, 200000L, 3000L)

  /** [[ensureScale]] at the sf10g shape (SCALING.md's deep scale), for
    * [[CoreScale]]'s deep run. */
  def ensureSf10g(spark: SparkSession, dir: String): Unit =
    ensureScale(spark, dir, 500000L, 200000L, 2000000L, 30000L)

  private def ensureScale(spark: SparkSession, dir: String, docs: Long,
                          vecs: Long, events: Long, users: Long): Unit = {
    val current = markerCurrent(dir)
    if (!current || !new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists())
      genDocuments(spark, docs, s"$dir/documents.parquet")
    if (!current || !new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
      genEmbeddings(spark, vecs, s"$dir/embeddings.parquet")
    if (!current || !new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
      genEvents(spark, events, users, s"$dir/events.parquet")
    writeMarker(dir)
  }

  /** Documents-only ensure (marker-versioned like [[ensureScale]]) for
    * probes whose queries read nothing else — [[DeepDocsProbe]]'s 5M-doc
    * corpus. Safe to share a dir with ensureScale: the marker plus
    * per-table _SUCCESS checks regenerate exactly what's missing or
    * stale. */
  def ensureDocs(spark: SparkSession, dir: String, docs: Long): Unit = {
    if (!markerCurrent(dir) ||
        !new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists()) {
      genDocuments(spark, docs, s"$dir/documents.parquet")
      writeMarker(dir)
    }
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALING.md")
    val cpus = graft.core.Sessions.cores
    val spark = graft.core.Sessions.local(cpus)

    val small = "/tmp/graft_scale/sf0.1g"
    val large = "/tmp/graft_scale/sf1g"
    val deep = "/tmp/graft_scale/sf10g"
    val xdeepEvents = "/tmp/graft_scale/sf100ge"
    ensureScale(spark, small, 5000L, 2000L, 20000L, 300L)
    ensureScale(spark, large, 50000L, 20000L, 200000L, 3000L)
    ensureScale(spark, deep, 500000L, 200000L, 2000000L, 30000L)
    // events-only third decade (docs/embeddings minimal, never read here)
    ensureScale(spark, xdeepEvents, 5000L, 2000L, 20000000L, 300000L)
    // out-of-timing warm-up per dir: table counts + dd13's stored state
    Seq(small, large, deep).foreach { d =>
      graft.core.Tables.documents(spark, d).count()
      spark.read.parquet(s"$d/embeddings.parquet").count()
      graft.core.Tables.events(spark, d).count()
      graft.queries.TextQueries.dd13StateFixture(spark, d)
      graft.queries.TextQueries.dd23StateFixture(spark, d)
    }
    graft.core.Tables.events(spark, xdeepEvents).count()

    val qs = graft.SparkEntry.queries
    // dev loop: SPARK_GRAFT_ONLY=a,b,c profiles single queries (stderr
    // timings only — SCALING.md is written only by unfiltered runs, so a
    // profiling session can't publish a partial table).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val curve = only.fold(Curve)(names => Curve.filter(names))
    val rows = curve.map { name =>
      val fn = qs(name)
      def best(dir: String): (Double, Long) = {
        val a = TimingSink.timedRun(spark, fn, dir)
        val b = TimingSink.timedRun(spark, fn, dir)
        (math.min(a._1, b._1), b._2)
      }
      // untimed warm-up at the SMALL scale: codegen + JIT for this query's
      // plan compile once here, so neither scale's timed runs carry them —
      // without this the small side pays compilation the large side then
      // inherits, biasing every ratio DOWN (t2 measured 0.2x that way)
      TimingSink.timedRun(spark, fn, small)
      val (tS, nS) = best(small)
      val (tL, nL) = best(large)
      // second decade for the dedup/sim family. Min of 2 like the first
      // two scales: deep rows were originally single timed runs on the
      // "absolute times are large enough" theory, but identical back-to-
      // back full runs measured dd7 at 62 s and 134 s — sandbox host
      // noise scales WITH the run length, so the min matters more at
      // depth, not less.
      val dRes = if (CurveDeep(name)) Some(best(deep)) else None
      // third decade for the event family: 20M events, min of 2
      val xRes = if (CurveDeepEvents(name)) Some(best(xdeepEvents))
                 else None
      val deepStr = dRes.fold("")(d => f" -> ${d._1}%6.2f (x${d._1 / tL}%4.1f)") +
        xRes.fold("")(x => f" => ${x._1}%6.2f")
      System.err.println(f"[scale] $name%-22s ${tS}%6.2f -> ${tL}%6.2f  " +
        f"x${tL / tS}%5.1f  rows $nS%7d -> $nL%8d$deepStr")
      (name, tS, tL, tL / tS, nS, nL, dRes, xRes)
    }

    val sb = new StringBuilder
    sb ++= "# SCALING — measured 10x curve for the corpus family\n\n"
    sb ++= "Generated by `sbt \"runMain graft.tools.ScaleCurve\"` " +
      "(local[" + cpus + "], min of 2 runs per query per scale).\n\n"
    sb ++= "Every row here (and in DEEPDOCS/PROFILE_E2E/BENCH since " +
      "round 11) is measured through `TimingSink.rows` — the query's " +
      "OWN physical plan, every output column materialized. A " +
      "`count()` sink re-optimizes around the count and lets Catalyst " +
      "DELETE left-outer joins onto unique-keyed aggregates " +
      "(SPARK-36194) — the ExactSubstr family ends in exactly that " +
      "shape, so its pre-round-11 rows timed a bare scan; cross-round " +
      "comparisons for left-join-tailed queries are invalid across " +
      "that boundary.\n\n"
    sb ++= "Two corpora from the SAME deterministic generator (see " +
      "`tools/ScaleCurve.scala` scaladoc for the distribution contract):\n\n"
    sb ++= "| scale | documents | embeddings | events (users) |\n|---|---|---|---|\n"
    sb ++= "| sf0.1g | 5,000 | 2,000 | 20,000 (300) |\n" +
      "| sf1g | 50,000 | 20,000 | 200,000 (3,000) |\n" +
      "| sf10g | 500,000 | 200,000 | 2,000,000 (30,000) |\n" +
      "| sf100ge | (events only) | | 20,000,000 (300,000) |\n\n" +
      "The dedup/sim family is additionally measured over a SECOND " +
      "decade (sf1g -> sf10g, min of 2 runs) — two decades catch " +
      "super-linear terms one can hide; the second-decade columns are " +
      "blank for queries outside that family.\n\n"
    sb ++= "A ratio near 10 on a 10x corpus means the operator's cost is " +
      "dominated by per-row work (the plan a 1000-executor cluster can " +
      "spread); sub-10 means fixed scheduling/setup overhead still " +
      "dominates at this absolute size; materially above 10 needs a " +
      "structural explanation (e.g. candidate-pair growth), not a shrug.\n\n" +
      "dd10 vs dd14 is the raw-pairs-vs-cluster-shape contrast: dd10's " +
      "OUTPUT is quadratic in duplicate-cluster size (audit form only at " +
      "scale), while dd14 runs component discovery on the " +
      "distinct-signature graph (same-sig docs are hamming-0 near-dups: " +
      "one node, not m^2 pairs) and emits representatives, so neither " +
      "its work nor its output inherits the pair blow-up — dd14 is the " +
      "query surface a 100-TB pipeline runs.\n\n" +
      "sim7 vs dd16 is the same contrast for embeddings: " +
      "sim7_cosine_range's OUTPUT is the full pair list above the floor, " +
      "quadratic within dense similarity clusters (this synthetic corpus " +
      "has 10 planted clusters, so pairs grow ~O(n^2/10) — the measured " +
      ">10 ratio is output-bound, not plan-bound; every stage is still a " +
      "bucket equi-join). Range search is the AUDIT/serving form; the " +
      "corpus-dedup surface at scale is dd16's SemDeDup path " +
      "(quantizer cells + per-cell dedup, cluster-shaped output).\n\n"
    // Inline row annotations: a >10 ratio whose structural explanation
    // lives two screens below the number is a bare red flag to the
    // reader — name the mechanism in the row itself (the dd10/sim7
    // discipline applied to measured rows, not just exclusions).
    val rowNotes = Map(
      "dd8_dup_clusters" -> ("audit-knob banding (2 bands x 2 hashes): " +
        "its candidate input rides the band-collision floor quantified " +
        "in the notes below, so ratio2 > 10 is floor-bound, not a " +
        "contraction defect — the SAME star-contraction at production " +
        "banding is inside dd22_dedup_corpus_prod (ratio2 ~6, measured " +
        "through the third and fourth docs decades)."),
      "t22_centrality" -> ("OUTPUT-superlinear on this fixture via its " +
        "audit-knob INPUT: it ranks the nodes of the dd3-family " +
        "candidate graph at 2-bands-x-2-hashes, so the band-collision " +
        "floor quantified below densifies the edge set superlinearly " +
        "and the output (every node touching an edge, rows x14/decade) " +
        "and the per-round join work follow the edges — dd8's mechanism " +
        "wearing a PageRank loop (each round is one equi-join + one " +
        "agg, lineage cut every 3 rounds; the iteration itself is " +
        "edge-linear). At production the edge set comes from dd21/dd22's " +
        "banding, whose cluster-shaped volume is measured through the " +
        "fourth docs scale."))
    sb ++= "| query | sf0.1g sec | sf1g sec | ratio | sf10g sec | ratio2 | rows sf0.1g | rows sf1g | rows sf10g |\n"
    sb ++= "|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach { case (name, tS, tL, r, nS, nL, dRes, _) =>
      val (tD, r2, nD) = dRes.fold(("", "", ""))(d =>
        (f"${d._1}%.2f", f"${d._1 / tL}%.1f", s"${d._2}"))
      val mark = if (rowNotes.contains(name)) " †" else ""
      sb ++= f"| $name$mark | $tS%.2f | $tL%.2f | $r%.1f | $tD | $r2 | $nS | $nL | $nD |\n"
    }
    rowNotes.collect { case (name, note) if rows.exists(_._1 == name) =>
      sb ++= s"\n† `$name`: $note\n"
    }
    val geo = math.exp(rows.map(r => math.log(r._4)).sum / rows.size)
    sb ++= f"\nGeometric-mean ratio over ${rows.size} queries: **${geo}%.1f** " +
      "(10x data).\n"
    val deepRows = rows.flatMap(r => r._7.map(d => (r._3, d._1)))
    if (deepRows.nonEmpty) {
      val geo2 = math.exp(
        deepRows.map { case (tL, tD) => math.log(tD / tL) }.sum / deepRows.size)
      sb ++= f"Second-decade geometric-mean ratio over ${deepRows.size} " +
        f"dedup/sim/event queries: **${geo2}%.1f** (10x data, sf1g -> sf10g).\n"
    }
    sb ++= "\n"
    val xRows = rows.collect { case (name, _, _, _, _, _, Some(d), Some(x)) =>
      (name, d._1, x._1, d._2, x._2) }
    if (xRows.nonEmpty) {
      sb ++= "## Event family — third decade (2M -> 20M events, min of 2 runs)\n\n"
      sb ++= "| query | sf10g sec | sf100ge sec | ratio3 | rows sf10g | rows sf100ge |\n"
      sb ++= "|---|---|---|---|---|---|\n"
      xRows.foreach { case (name, tD, tX, nD, nX) =>
        sb ++= f"| $name | $tD%.2f | $tX%.2f | ${tX / tD}%.1f | $nD | $nX |\n"
      }
      sb ++= "\ne6's round-12 row sat at ratio3 5.9 while its siblings " +
        "held 2.3-3.3; a round-12 stage profile put 4.4 of its 9.8 s " +
        "in the per-session collect_list aggregation — " +
        "ObjectHashAggregate falls back to " +
        "SORT-based aggregation past a small in-memory key threshold, " +
        "and at this fixture's gap density sessions ~ events (19M " +
        "groups). Round 13 replaced the struct collect with " +
        "maxPathEvents slot aggregates (max(when(rk = i, type)) per " +
        "slot, concat_ws skipping empty slots — output-identical " +
        "because rk IS the order the old array_sort reproduced), " +
        "keeping the aggregation a codegen HashAggregate with map-side " +
        "combine; the re-measured full query dropped 9.8 -> 5.4 s at " +
        "20M events.\n\n"
    }
    sb ++= "Excluded by contract: `dd6_embed_dups` (all-pairs-within-block " +
      "baseline — quadratic per block by definition; the corpus-scale " +
      "near-dup path is sim2/dd7), `dd16_semantic_dedup` (its oracle " +
      "fixture uses a FIXED 8-cell quantizer, which degenerates the " +
      "within-cell stage to dd6's audit shape — at scale the quantizer " +
      "grows with the corpus, bounding cell population), `sim3_ann_ivf` " +
      "(one-time index BUILD; the per-batch serving paths " +
      "sim3_assign/sim5 are in the table), `sim_recall`/`s5` " +
      "(not corpus-sized or measured elsewhere), and — from the SECOND " +
      "decade only — `dd7_lsh_verified`: at its oracle-verifiable knobs " +
      "(2 rows/band, J>=0.05) its verified-pair OUTPUT grows ~35x per " +
      "decade from the banding collision floor quantified below, so past " +
      "the first decade it is an output-bound audit form like dd10/sim7; " +
      "it keeps its first-decade row, and the LSH-verify surface measured " +
      "at depth is dd21, the identical fused plan at production knobs " +
      "(4 rows/band, J>=0.5). The round-8 measurement that settled this " +
      "(retained as the recorded contrast, not re-measured each regen): " +
      "dd7 ratio2 15.2 with output x35/decade vs dd21 ratio2 6.4 with " +
      "cluster-shaped output — same operator, one banding parameter. " +
      "The image analog of that contrast is `mm9_image_near_dup` vs " +
      "`mm9_wide`, both measured at depth: mm9's 64-bit aHash can band " +
      "no wider than 4x16 bits while staying pigeonhole-exact at " +
      "radius 3, and on the slope-diverse fixture the BANDCANDS image " +
      "rows quantify its floor (115 candidates per distinct signature " +
      "at 0.5M docs; its 5M attempt MEASURABLY out-spilled this " +
      "sandbox's ~59 GB free disk inside the candidate join — the " +
      "dd22-at-50M treatment); mm9_wide's 256-bit hash banded 8x32 " +
      "(exact through radius 7) measures 28.7 at 0.5M and COMPLETES " +
      "5M at 276.7 — and the 16x16 banding the bit-budget symmetry " +
      "suggests is MEASURED WORSE than the 64-bit form (1352 " +
      "cands/sig: more bands multiply collision chances when " +
      "correlated thumbnail rows keep per-band entropy flat). mm10's " +
      "image stage runs at the measured-best banding.\n\n" +
      "On banded candidate growth (dd3 and everything downstream of " +
      "it): with 2 bands of 2 hashes, a random doc pair collides with " +
      "probability ~J^2 per band, so the candidate count has an " +
      "irreducible n^2 * J_floor^2 term — on this Zipf fixture the " +
      "inter-doc Jaccard floor is ~0.01, i.e. ~1e-4 per-pair collision " +
      "odds. Production banding at 100 TB raises rows-per-band (e.g. " +
      "128 hashes as 16 bands of 8, collision ~J^8) precisely to push " +
      "that floor below 1/n; the (4, 2) knobs here are the " +
      "oracle-verifiable small-signature form, so a dd3-family ratio " +
      "above 10 at depth quantifies the floor, not a plan defect — the " +
      "verify stage and the cluster contraction downstream are measured " +
      "on exactly the candidate volume the table reports. The round-7 " +
      "30-word vocabulary pushed J_floor to ~0.3 and candidates to " +
      "x68/decade (~200 GB verify spill at sf10g); the Zipf 10k-token " +
      "vocabulary restored a real-text collision floor, which is why " +
      "dd8/dd9/t22 carry measured second-decade rows. The floor itself " +
      "is quantified by the recorded round-8 contrast in the exclusion " +
      "note above: dd7's low-knob form grows output ~35x/decade (random " +
      "candidates clearing the low threshold) while dd21 — one banding " +
      "parameter apart — holds ratio2 ~6 with cluster-shaped output; " +
      "that pair of measurements is the structural explanation." +
      " (A signature-overlap PREfilter " +
      "before the exact verify — the other candidate-thinning idea — is " +
      "a no-op at dd7's knobs: band candidates share rowsPerBand minhash " +
      "components by construction, so their signature-overlap estimate " +
      "is >= rows/hashes = 0.5, far above any bound a J>=0.05 verify " +
      "could safely prune with; candidate volume is controlled by the " +
      "banding knob, and verify cost per candidate is inherently " +
      "O(doc shingles) for EXACT Jaccard.)\n"

    // Third docs decade — rendered from DeepDocsProbe's machine-readable
    // artifact (measured data travels through a file, never through
    // literals baked into this generator; the section is simply absent
    // until the probe has run on this fixture version).
    readJson("DEEPDOCS.json").foreach { root =>
      val fv = Option(root.get("fixture_version")).map(_.asText).getOrElse("?")
      val qs = root.get("queries")
      if (qs != null && qs.fieldNames().hasNext) {
        sb ++= "\n## Docs family — third decade (500k -> 5M docs)\n\n"
        sb ++= "Measured by `sbt \"runMain graft.tools.DeepDocsProbe\"` " +
          "(min of 2 runs; BOTH scales re-measured inside the same quiet " +
          s"process, so the ratio never mixes runs; fixture $fv). One " +
          "decade past the table above, on the operators a daily " +
          "100-TB ingest leans on. The small-signature audit knobs (dd9, " +
          "dd13) are excluded from THIS decade only (both keep their rows " +
          "above): at 5M docs their 2-hash band keys sit on the quadratic " +
          "collision floor — ~1e9 random band candidates; the round-9 " +
          "probe attempts GC-wedged dd9 there and dd13 spilled past the " +
          "machine's disk, the dd7 mechanism demonstrated at composition " +
          "level (and cross-frame: batch x corpus x J_floor^2). The " +
          "corpus-dedup and incremental surfaces measured at this depth " +
          "are dd22/dd23 — the identical compositions at dd21's " +
          "production banding.\n\n"
        sb ++= "The production-window ExactSubstr rows (dd24/dd26/dd27 " +
          "`_prod`, W=50) are REGIME-shaped, and the scales together " +
          "are what separate regime from asymptote. dd24's detect " +
          "rollup still crosses this one machine's in-memory-shuffle " +
          "to disk-spill boundary at the 500k->5M step (stride-1 " +
          "windows are ~50 shuffled rows per doc, so 5M docs is ~250M " +
          "shuffled windows — hence its x14.4 on 10x data, then x4.6 " +
          "on 4x once the whole run lives in the spill regime). The " +
          "CUT forms used to pay that same crossing harder (round-12: " +
          "dd26 x33) by re-carrying full window volume through a " +
          "second join+reassembly pass; the round-13 span-merge tail " +
          "(merge cut windows into maximal spans per doc, then a " +
          "per-row codegen cut — `Dedup.cutReassemble`) replaced that " +
          "pass, and the re-measured curve shows the regime shift: " +
          "dd26 4.3 -> 27.9 -> 211.6 s (x6.4 on 10x, then x7.6 on 4x " +
          "— the spill crossing MOVED a decade deeper, to the 5M->20M " +
          "step, peak scratch ~23 GB), dd27 6.4 -> 31.8 -> 98.8 s " +
          "(x5.0, x3.1 — at/under data ratio throughout). Per-doc " +
          "cost stays in single-digit-to-low-teens us/doc for all " +
          "three at every scale. A term that grew with the corpus " +
          "would keep growing through the deeper scales; what the " +
          "curves show instead is a one-time spill-threshold penalty " +
          "at whatever scale the footprint first exceeds memory — on " +
          "a cluster this is the shuffle the plan declares, spread " +
          "over executors' local disks (scans + hash aggs + " +
          "equi-joins only, PlanSpec-pinned).\n\n"
        sb ++= "| query | 500k-doc sec | 5M-doc sec | ratio3 | rows 500k | rows 5M | rows ratio |\n"
        sb ++= "|---|---|---|---|---|---|---|\n"
        val names = scala.jdk.CollectionConverters
          .IteratorHasAsScala(qs.fieldNames()).asScala.toSeq.sorted
        names.foreach { n =>
          val q = qs.get(n)
          val (tB, tD) = (q.get("base_sec").asDouble, q.get("deep_sec").asDouble)
          val (nB, nD) = (q.get("base_rows").asLong, q.get("deep_rows").asLong)
          sb ++= f"| $n | $tB%.1f | $tD%.1f | ${tD / tB}%.1f | $nB | $nD " +
            f"| ${nD.toDouble / nB}%.1f |\n"
        }
        sb ++= "\n"
        // Fourth docs scale — present for the queries the probe measured
        // there (the production corpus-dedup composition by default).
        val with4 = names.filter(n => qs.get(n).has("deep4_sec"))
        if (with4.nonEmpty) {
          val d4 = Option(root.get("deep4_docs")).map(_.asLong)
            .getOrElse(50000000L)
          val d4M = s"${d4 / 1000000}M"
          val factor = d4 / 5000000.0
          sb ++= s"## Docs family — fourth scale (5M -> $d4M docs, " +
            f"${factor}%.0fx)\n\n"
          sb ++= s"Same probe, past the third decade (min of 2 runs, " +
            "same quiet process as the rows above) — the deepest direct " +
            "evidence behind the 100-TB claim. The full fourth DECADE " +
            "(50M docs) was attempted for every fourth-scale query; two " +
            "measured sandbox limits — not plan properties — used to " +
            "bound who reaches it: dd22's single-run shuffle+spill " +
            "footprint exceeded the ~71 GB of free disk ~12 minutes in " +
            "(SparkOutOfMemoryError: spill failed, no space left on " +
            "device), and the ExactSubstr prod family at the probe's " +
            "one-task-per-core default (32 shuffle partitions) put " +
            "~86M stride-1 windows in a single hash probe and exhausted " +
            "the 16 GB unified pool (UNABLE_TO_ACQUIRE_MEMORY: 'Unable " +
            "to acquire 65536 bytes, got 0'). The second limit is the " +
            "one a cluster REMOVES by task sizing: at " +
            "spark.sql.shuffle.partitions=256 (same 32 threads, rows " +
            "tagged with the knob below) the ENTIRE ExactSubstr prod " +
            "family now lands in the fifth-scale section — dd24 " +
            "directly, and dd26/dd27 after the round-13 span-fused cut " +
            "tail (their round-12 50M attempts out-spilled the ~59 GB " +
            "of free disk in the second join+reassembly pass that " +
            "tail replaced; its removal is also what moved their " +
            "spill-regime crossing a decade deeper in the tables " +
            "above). The batch-proportional incremental path (dd23) " +
            "fits at the default knob. Probe hygiene, measured: a 50M " +
            "cut query run in a JVM that already ran ANOTHER 50M query " +
            "can die on driver heap (block-manager residue against the " +
            "16 GB default) — the committed 50M rows are each measured " +
            "in a fresh process. dd22's footprint remains the one " +
            "disk-measured exclusion; on a cluster it is exactly what " +
            "distributes — the shuffle the plan declares, spread over " +
            "executors' local disks.\n\n"
          sb ++= f"| query | 5M-doc sec | $d4M-doc sec | ratio ($factor%.0fx data) | rows 5M | rows $d4M | rows ratio |\n"
          sb ++= "|---|---|---|---|---|---|---|\n"
          with4.foreach { n =>
            val q = qs.get(n)
            val (tD, t4) = (q.get("deep_sec").asDouble, q.get("deep4_sec").asDouble)
            val (nD, n4) = (q.get("deep_rows").asLong, q.get("deep4_rows").asLong)
            sb ++= f"| $n | $tD%.1f | $t4%.1f | ${t4 / tD}%.1f | $nD | $n4 " +
              f"| ${n4.toDouble / nD}%.1f |\n"
          }
          sb ++= "\n"
          // Fifth scale — present for the queries the probe carried to
          // deep5_docs (the batch-proportional incremental path, whose
          // footprint fits where the corpus-wide one measurably didn't).
          val with5 = names.filter(n => qs.get(n).has("deep5_sec"))
          if (with5.nonEmpty) {
            val d5 = Option(root.get("deep5_docs")).map(_.asLong)
              .getOrElse(50000000L)
            val d5M = s"${d5 / 1000000}M"
            val f5 = d5.toDouble / d4
            sb ++= s"## Docs family — fifth scale ($d4M -> $d5M docs, " +
              f"${f5}%.1fx)\n\n"
            sb ++= "`parts` = spark.sql.shuffle.partitions the 50M row " +
              "was measured under (the 20M column is the one-task-per-" +
              "core 32 everywhere, so a sub-data ratio under a finer " +
              "knob reads as the TASK-SIZING win it is, not free " +
              "scaling).\n\n"
            sb ++= f"| query | $d4M-doc sec | $d5M-doc sec | ratio ($f5%.1fx data) | rows $d4M | rows $d5M | parts |\n"
            sb ++= "|---|---|---|---|---|---|---|\n"
            with5.foreach { n =>
              val q = qs.get(n)
              val (t4, t5) = (q.get("deep4_sec").asDouble, q.get("deep5_sec").asDouble)
              val (n4, n5) = (q.get("deep4_rows").asLong, q.get("deep5_rows").asLong)
              val p5 = if (q.has("deep5_shuffle_partitions"))
                q.get("deep5_shuffle_partitions").asText else "32"
              sb ++= f"| $n | $t4%.1f | $t5%.1f | ${t5 / t4}%.1f | $n4 | $n5 | $p5 |\n"
            }
            sb ++= "\n"
          }
          // Candidate-volume mechanism — rendered from BandCandidateProbe's
          // artifact when present: the pre-verify candidate count each
          // banding emits at each measured scale, the number that
          // attributes a super-linear dd21-family wall ratio to the
          // banding collision floor (~n² · J_floor^rowsPerBand) rather
          // than to a plan defect — and, when the wide banding is also
          // measured, shows the floor SUPPRESSED by the knob.
          readJson("BANDCANDS.json").foreach { bc =>
            val bandings = bc.get("bandings")
            if (bandings != null && bandings.size() >= 1) {
              sb ++= "Mechanism (measured by `sbt \"runMain graft.tools" +
                ".BandCandidateProbe\"`): the pre-verify candidate " +
                "volume each banding emits —\n\n"
              (0 until bandings.size()).foreach { bi =>
                val b = bandings.get(bi)
                val scales = b.get("scales")
                if (scales != null && scales.size() >= 1) {
                  sb ++= s"Banding ${b.get("banding")}:\n\n"
                  // image bandings carry the distinct-signature count:
                  // their join input is the equal-hash contraction, so
                  // cands/SIG is the floor metric there
                  val hasSigs = scales.get(0).has("distinct_sigs")
                  if (hasSigs)
                    sb ++= "| docs | distinct sigs | candidates | cands/sig |\n|---|---|---|---|\n"
                  else
                    sb ++= "| docs | candidates | cands/doc |\n|---|---|---|\n"
                  (0 until scales.size()).foreach { i =>
                    val s = scales.get(i)
                    val (d, c) = (s.get("docs").asLong,
                      s.get("candidates").asLong)
                    if (hasSigs) {
                      val m = s.get("distinct_sigs").asLong
                      sb ++= f"| ${d / 1000000.0}%.1fM | $m | $c " +
                        f"| ${c.toDouble / m}%.3f |\n"
                    } else
                      sb ++= f"| ${d / 1000000.0}%.1fM | $c " +
                        f"| ${c.toDouble / d}%.3f |\n"
                  }
                  sb ++= "\n"
                }
              }
              sb ++= "At the production knobs, candidates per document " +
                "GROW with corpus size — the quadratic collision-floor " +
                "term (a random pair collides in a 4-hash band with " +
                "probability ~J_floor^4; pairs grow n²) overtaking the " +
                "linear true-duplicate term. This is what moves dd21's " +
                "fourth-scale wall ratio above its data ratio: verify " +
                "work follows candidates, not documents. The production " +
                "response at 100 TB is the banding knob itself — " +
                "dd21_lsh_wide_bands (16 bands of 8, collision " +
                "~J_floor^8, operating point J >= 0.7 per the LSH " +
                "S-curve) is that response REGISTERED AND MEASURED " +
                "against the same scales: an order flatter candidate " +
                "growth (every finite banding keeps an n²-shaped tail " +
                "from mid-J pairs — 8-wide bands shrink its " +
                "coefficient, they cannot delete it) and the DEEPDOCS " +
                "rows carry the wall contrast. The plan is unchanged " +
                "between the two bandings — which is exactly why the " +
                "knob is a parameter. The band key itself ships as a " +
                "sha60 LONG, not the minima concat string (~8 bytes vs " +
                "60-80 per banded row): at 20M docs x 16 bands the " +
                "string form out-spilled this sandbox's disk before " +
                "the candidate join finished; the hashed form is the " +
                "same join with ~8x less shuffle, and the oracle " +
                "replays the hash (collisions included) exactly.\n"
              val hasImage = (0 until bandings.size()).exists(bi =>
                bandings.get(bi).get("banding").asText.startsWith("image"))
              if (hasImage)
                sb ++= "\nThe image rows are the same floor mechanism " +
                  "at the perceptual-hash grain (measured with " +
                  "`SPARK_GRAFT_BAND_IMAGE=1`): aHash64 is pinned at " +
                  "4 bands of 16 bits by the pigeonhole-exactness " +
                  "requirement at hamming radius 3, so once the corpus " +
                  "realizes distinct signatures ~n the per-band bucket " +
                  "collisions grow quadratically and cands/sig rises " +
                  "with the corpus (the 4x16 banding's 5M-doc attempt " +
                  "out-spilled this sandbox's disk inside the " +
                  "candidate join — a measured exclusion, not a " +
                  "shrug). The response is NOT more bands: banding " +
                  "the 256-bit hash 16x16 measures WORSE than " +
                  "the 64-bit form (more bands multiply collision " +
                  "chances while correlated thumbnail rows keep " +
                  "per-band entropy flat); 8 bands of 32 bits — wider " +
                  "keys, exact through radius 7 — is the measured " +
                  "minimum, is mm9_wide's registered banding, and " +
                  "completes the 5M scale. Its cands/sig still grows " +
                  "~linearly with the corpus (28.7 -> 276.7 on 10x): " +
                  "every finite banding keeps an n^2-shaped tail — " +
                  "wider keys shrink its coefficient (~40x here), " +
                  "they cannot delete it; past this regime the lever " +
                  "is blocking (per-band keys salted with coarse " +
                  "metadata) or a longer hash. All three joins run on " +
                  "the DISTINCT-signature contraction, so equal-hash " +
                  "image masses never enumerate pairs at all.\n"
            }
          }
        }
      }
    }

    // e2e stage breakdowns — rendered from ProfileE2E's artifact (same
    // file-not-literals contract as above; one table per composed
    // pipeline the bench surfaces as an e2e query).
    readJson("PROFILE_E2E.json").foreach { root =>
      def renderStages(name: String, stages: com.fasterxml.jackson.databind.JsonNode,
                       fullSec: Option[Double]): Unit =
        if (stages != null && stages.size() > 0) {
          sb ++= s"\n## $name stage breakdown (`${root.get("dir").asText}`)\n\n"
          sb ++= "Measured by `sbt \"runMain graft.tools.ProfileE2E <dir>\"`: " +
            "each stage's MARGINAL cost is timed directly (stage body over " +
            "a materialized input, min of 3 runs so run 1 absorbs " +
            "codegen/JIT warm-up), so delta = the measured marginal cost " +
            "of that stage — non-negative by construction, asserted before " +
            "the artifact is written — and the slowest delta names the " +
            "next optimization target. Cumulative = running sum of " +
            "marginals.\n\n"
          sb ++= "| stage | cumulative sec | delta sec | rows |\n|---|---|---|---|\n"
          var worst = ("", 0.0)
          var total = 0.0
          (0 until stages.size()).foreach { i =>
            val s = stages.get(i)
            val (lbl, d) = (s.get("stage").asText, s.get("delta_sec").asDouble)
            if (d > worst._2) worst = (lbl, d)
            total = s.get("cumulative_sec").asDouble
            sb ++= f"| $lbl | $total%.2f | $d%.2f " +
              f"| ${s.get("rows").asLong} |\n"
          }
          sb ++= f"\nSlowest stage: **${worst._1}** (${worst._2}%.2f s marginal)."
          fullSec.foreach { f =>
            sb ++= f" Real end-to-end query (scan to final count, live " +
              f"lineage): **$f%.2f s** vs $total%.2f s sum of marginals — " +
              "the residual gap is the localCheckpoint materialization " +
              "cost itself: since round 13 the live chains checkpoint " +
              "each multiply-consumed intermediate (so no stage body " +
              "replays), but the corpus-sized checkpoint WRITES sit on " +
              "the live path while the marginal probe materializes its " +
              "stage inputs outside the timed window."
          }
          sb ++= "\n"
        }
      val pipelines = root.get("pipelines")
      if (pipelines != null && pipelines.size() > 0)
        (0 until pipelines.size()).foreach { i =>
          val p = pipelines.get(i)
          val full = Option(p.get("full_sec")).map(_.asDouble)
          renderStages(p.get("name").asText, p.get("stages"), full)
        }
      else renderStages("e2e_corpus_assembly", root.get("stages"), None)
    }
    if (only.isEmpty) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), sb.toString)
      println(s"wrote $outPath")
    } else println("[scale] filtered run — SCALING.md not written")
    spark.stop()
  }
}
