package graft.tools

/** Dev probe: candidate-pair counts of the banded-LSH blocking across
  * the deep docs fixtures, per banding — the number that separates
  * "verify work grew with true duplicates" (linear) from "the banding
  * collision floor surfaced" (the ~n² · J_floor^rowsPerBand term).
  * [[DeepDocsProbe]] measures wall time per scale; this names WHY a
  * ratio moved by measuring the pre-verify candidate volume each
  * banding emits at each scale. Two bandings by default: dd21's
  * production knobs (16 hashes, 4 bands of 4) where the fourth scale
  * surfaced the floor, and the documented production RESPONSE
  * (dd21_lsh_wide_bands: 128 hashes, 16 bands of 8 — collision
  * ~J_floor^8) — so the "widen the bands" claim is a measured
  * contrast, not prose.
  *
  * Results go to `BANDCANDS.json` (merged per banding+scale, keyed to
  * the fixture version) — [[ScaleCurve]] renders the mechanism note in
  * SCALING.md's fourth-scale section from that artifact, so measured
  * numbers never get baked into a generator as literals.
  *
  * Run after [[DeepDocsProbe]] (re-uses its generated fixtures):
  * `sbt "runMain graft.tools.BandCandidateProbe [fixtureDir ...]"`. */
object BandCandidateProbe {
  private val OutPath = "BANDCANDS.json"

  /** (numHashes, rowsPerBand, label) — dd21's two registered bandings. */
  private val Bandings = Seq(
    (16, 4, "16 hashes, 4 bands of 4 (dd21 production knobs)"),
    (128, 8, "128 hashes, 16 bands of 8 (dd21_wide response)"))

  /** Image-signature bandings (hash kind, label) — measured with
    * SPARK_GRAFT_BAND_IMAGE=1 over the mm9 fixture's distinct
    * perceptual-hash signatures: the mm9 / mm9_wide contrast. The
    * candidate metric here is per distinct SIGNATURE (the banded join's
    * input after the equal-hash contraction), so rows also carry
    * `distinct_sigs`. */
  private val ImageBandings = Seq(
    ("aHash64", 2, "image aHash64, 4 bands of 16 (mm9 banding)"),
    ("aHash256", 2, "image aHash256, 16 bands of 16 (radius-15 exact)"),
    ("aHash256", 1, "image aHash256, 8 bands of 32 (mm9_wide banding)"))

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft_scale/sf10g", "/tmp/graft_scale/sf100gd",
        "/tmp/graft_scale/sfd4_20000000")
    val spark = graft.core.Sessions.local()
    import org.apache.spark.sql.functions.{col, min}
    val imageMode = sys.env.get("SPARK_GRAFT_BAND_IMAGE").contains("1")
    // SPARK_GRAFT_BAND_HASH=aHash64|aHash256 narrows the image sweep to
    // one hash — the 64-bit banding's candidate volume at 5M docs
    // MEASURABLY out-spills this sandbox (the floor the wide hash
    // answers), so the decades past 0.5M are probed wide-only.
    val hashFilter = sys.env.get("SPARK_GRAFT_BAND_HASH")
    // artifact is merged + rewritten after EVERY row (not once at the
    // end): a deep row that out-spills the disk must not discard the
    // scales already measured
    // SPARK_GRAFT_BAND_FP=1: the blocked 64-bit fingerprint bandings
    // (mm11's window-count-blocked audio fp, mm12's frame-count-blocked
    // video fp) — 4 bands of 16 over distinct (block, fp) signatures,
    // the block column riding the same equi-key. cands/sig is the floor
    // metric: within a block the top bands can carry fewer meaningful
    // bits (mm11's short clips), which is exactly what this probe
    // surfaces at depth.
    // "1" probes both kinds; "audio"/"video" narrows to one — the audio
    // banding's 5M candidate volume is quadratic inside its
    // degenerate-top-band blocks (see the 500k row), so the deeper
    // scales are probed per-kind in separate processes.
    val fpFilter = sys.env.get("SPARK_GRAFT_BAND_FP")
    val fpMode = fpFilter.exists(v =>
      Set("1", "audio", "audio_adaptive", "video").contains(v))
    if (fpMode) {
      import org.apache.spark.sql.functions.{lit => flit, shiftright,
        col => fcol}
      for {
        (kind, label) <- Seq(
          ("audio", "audio fp64, 4 bands of 16, n_windows-blocked (mm11 banding)"),
          ("audio_adaptive", "audio fp64, 4 ADAPTIVE bands over meaningful bits (mm11_adaptive_bands)"),
          ("video", "video fp64, 4 bands of 16, n_frames-blocked (mm12 banding)"))
        if fpFilter.forall(f => f == "1" || f == kind)
        d <- dirs
      } {
        val ids = graft.core.Tables.documents(spark, d).select("doc_id")
        val nDocs = ids.count()
        val (fps, blockCol) =
          if (kind.startsWith("audio"))
            (graft.queries.TextQueries.mm11FpsFor(ids), "n_windows")
          else
            (graft.queries.TextQueries.mm12DocFps(ids), "n_frames_sampled")
        val sigStats = fps.groupBy(blockCol, "fp")
          .agg(min("doc_id").as("rid"))
          .withColumn("sig_lo", fcol("fp").bitwiseAND(flit(0xffffffffL)))
          .withColumn("sig_hi", shiftright(fcol("fp"), 32))
          .persist()
        val nSigs = sigStats.count()
        val cands = (if (kind == "audio_adaptive")
          graft.operators.Dedup.hammingBandCandidatesAdaptive(
            sigStats.withColumn("n_bits", (fcol(blockCol) - 1).cast("int")),
            "rid", "fp", "n_bits", bands = 4, blockCols = Seq(blockCol))
        else
          graft.operators.Dedup.hammingBandCandidatesWords(
            sigStats, "rid", Seq("sig_lo", "sig_hi"), bandsPerWord = 2,
            blockCols = Seq(blockCol))).count()
        sigStats.unpersist()
        System.err.println(
          f"[band-cands] $kind%-8s $d%-34s docs=$nDocs%,12d " +
            f"sigs=$nSigs%,12d candidates=$cands%,14d " +
            f"cands/sig=${cands.toDouble / nSigs}%8.3f")
        writeMerged(Map((label, nDocs) ->
          s"""{"docs":$nDocs,"candidates":$cands,"distinct_sigs":$nSigs}"""))
      }
      spark.stop()
      return
    }
    if (imageMode) {
      for {
        (hash, bpw, label) <- ImageBandings
        if hashFilter.forall(f => f == hash || f == s"$hash/$bpw")
        d <- dirs
      } {
        val nDocs = graft.core.Tables.documents(spark, d).count()
        val (sigStats, wordCols) =
          if (hash == "aHash64")
            (graft.queries.TextQueries.mm9DocSigs(spark, d)
              .groupBy("sig_hi", "sig_lo").agg(min("doc_id").as("rid")),
              Seq("sig_lo", "sig_hi"))
          else {
            val sigCols = (0 until 8).map(w => s"sig$w")
            (graft.queries.TextQueries.mm9WideDocSigs(spark, d)
              .groupBy(sigCols.head, sigCols.tail: _*)
              .agg(min("doc_id").as("rid")),
              sigCols)
          }
        // persist the contraction so the 5M-image PNG decode is paid
        // once, not once per banded union leg
        val ss = sigStats.persist()
        val nSigs = ss.count()
        val cands = graft.operators.Dedup.hammingBandCandidatesWords(
          ss, "rid", wordCols, bandsPerWord = bpw).count()
        ss.unpersist()
        System.err.println(
          f"[band-cands] $hash%-8s $d%-34s docs=$nDocs%,12d " +
            f"sigs=$nSigs%,12d candidates=$cands%,14d " +
            f"cands/sig=${cands.toDouble / nSigs}%8.3f")
        writeMerged(Map((label, nDocs) ->
          s"""{"docs":$nDocs,"candidates":$cands,"distinct_sigs":$nSigs}"""))
      }
    } else for {
      (hashes, rpb, label) <- Bandings
      d <- dirs
    } {
      val docs = graft.core.Tables.documents(spark, d)
      val nDocs = docs.count()
      val sig = graft.operators.Dedup.minhashSignature(
        docs, "doc_id", "text", shingleK = 3, numHashes = hashes)
      val cands = graft.operators.Dedup.lshCandidatesEager(
        sig, "doc_id", numHashes = hashes, rowsPerBand = rpb).count()
      System.err.println(
        f"[band-cands] ${hashes}x$rpb $d%-34s docs=$nDocs%,12d " +
          f"candidates=$cands%,14d cands/doc=${cands.toDouble / nDocs}%8.3f")
      writeMerged(Map((label, nDocs) ->
        s"""{"docs":$nDocs,"candidates":$cands}"""))
    }
    spark.stop()
  }

  /** Merge rows (keyed by banding label + docs count) into the committed
    * artifact, same fixture-version contract as DeepDocsProbe's writer. */
  private def writeMerged(fresh: Map[(String, Long), String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prior: Map[(String, Long), String] = {
      val f = new java.io.File(OutPath)
      if (!f.exists()) Map.empty
      else try {
        val root = mapper.readTree(f)
        if (Option(root.get("fixture_version")).map(_.asText)
              .contains(ScaleCurve.FixtureVersion) &&
            root.has("bandings")) {
          val bs = root.get("bandings")
          (0 until bs.size()).flatMap { i =>
            val b = bs.get(i)
            val label = b.get("banding").asText
            val sc = b.get("scales")
            (0 until sc.size()).map { j =>
              (label, sc.get(j).get("docs").asLong) -> sc.get(j).toString
            }
          }.toMap
        } else Map.empty
      } catch { case _: Throwable => Map.empty }
    }
    val all = prior ++ fresh
    val allLabels = Bandings.map(_._3) ++ ImageBandings.map(_._3)
    val bandingJson = allLabels.flatMap { label =>
      val scales = all.collect { case ((l, d), j) if l == label => d -> j }
        .toSeq.sortBy(_._1).map(_._2)
      if (scales.isEmpty) None
      else Some(s"""{"banding":"$label","scales":${
        scales.mkString("[", ",", "]")}}""")
    }.mkString("[", ",", "]")
    val json = s"""{"fixture_version":"${ScaleCurve.FixtureVersion}"""" +
      s""","bandings":$bandingJson}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(OutPath), json + "\n")
    println(json)
  }
}
