package graft.tools

/** Third/fourth-docs-decade probe (dev tool): generate 5M- and (for
  * the fourth-decade set, SPARK_GRAFT_DEEP4_DOCS, default 20M — see the
  * disk note in main) deeper corpora with [[ScaleCurve]]'s generator
  * and time named queries on them AND on the 500k-doc sf10g corpus in
  * the same process (min of 2 runs each), one-plus decades beyond
  * SCALING.md's table. Defaults to the three operators a daily
  * 100-TB ingest leans on: the production-banded near-dedup (dd21),
  * the production-knob dedup-corpus composition (dd22 — also taken to
  * the fourth decade) and the incremental-batch dedup (dd23).
  *
  * Results go to `DEEPDOCS.json` (merged per query across invocations,
  * keyed to the generator's fixture version) — [[ScaleCurve]] renders
  * SCALING.md's third-decade section from that artifact, so measured
  * numbers never get baked into a generator as literals.
  * Run: `sbt "runMain graft.tools.DeepDocsProbe [query ...]"`. */
object DeepDocsProbe {
  private val OutPath = "DEEPDOCS.json"

  def main(args: Array[String]): Unit = {
    // Default set: the three operators a daily 100-TB ingest leans on.
    // The small-signature audit knobs (dd9, dd13) are NOT probed at 5M
    // docs: their 2-hash band keys hit the quadratic collision floor
    // there (~1e9 random band candidates — the dd7 mechanism; the
    // round-9 attempts GC-wedged dd9 and spilled dd13 past the
    // machine's disk before verify could drop the candidates). The
    // corpus-dedup and incremental surfaces measured at depth are
    // dd22/dd23, the identical plans at dd21's production banding.
    val names = if (args.nonEmpty) args.toSeq
      else Seq("dd21_lsh_prod_bands", "dd22_dedup_corpus_prod",
        "dd23_incremental_prod")
    // Shuffle-partition override (SPARK_GRAFT_SHUFFLE) — the task-sizing
    // knob a cluster actually turns at depth: 32 one-task-per-core
    // partitions at 50M docs put ~86M stride-1 windows in ONE hash
    // probe (~1.4 GB x 32 concurrent against the 16 GB unified pool —
    // the measured UNABLE_TO_ACQUIRE_MEMORY failure); 256 partitions
    // make each task's probe fit with the same 32 threads. AQE
    // coalesces the small scales back, so the knob distorts nothing
    // below the scale that needs it. Recorded in the artifact root.
    val spark = graft.core.Sessions.local()
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val base = "/tmp/graft_scale/sf10g"   // 500k docs — SCALING.md's deep scale
    val deep = "/tmp/graft_scale/sf100gd" // 5M docs — one decade further
    // Fourth-decade set: the production corpus-dedup composition only by
    // default — the operator whose 100-TB claim otherwise rests on
    // extrapolating from 5M docs. Opt-in per query
    // (SPARK_GRAFT_DEEP4=name,name to override). The doc count is a knob
    // (SPARK_GRAFT_DEEP4_DOCS) because the full 50M-doc decade was
    // MEASURED to not fit this sandbox: dd22's single-run shuffle+spill
    // footprint exceeded the ~71 GB of free disk ~12 minutes in
    // (SparkOutOfMemoryError: spill failed, "No space left on device" —
    // the dd13-at-audit-knobs failure mode, but from sheer corpus volume
    // at production knobs, not a collision floor). 20M docs is the
    // deepest size that fits with headroom.
    val deep4Names = sys.env.get("SPARK_GRAFT_DEEP4")
      .map(_.split(',').toSet)
      .getOrElse(Set("dd22_dedup_corpus_prod"))
    val deep4Docs = sys.env.getOrElse("SPARK_GRAFT_DEEP4_DOCS", "20000000").toLong
    val deep4 = s"/tmp/graft_scale/sfd4_$deep4Docs"
    val probe4 = names.exists(deep4Names)
    // Fifth scale (opt-in per query, SPARK_GRAFT_DEEP5=name,name): the
    // 50M-doc row the daily-ingest path (dd23) plausibly fits in —
    // its shuffle footprint is batch-proportional, ~4x smaller than
    // dd22's corpus-wide one that measurably out-spilled this sandbox
    // at 50M. Rendered as its own subsection keyed to root deep5_docs.
    val deep5Names = sys.env.get("SPARK_GRAFT_DEEP5")
      .map(_.split(',').toSet).getOrElse(Set.empty[String])
    val deep5Docs = sys.env.getOrElse("SPARK_GRAFT_DEEP5_DOCS", "50000000").toLong
    val deep5 = s"/tmp/graft_scale/sfd5_$deep5Docs"
    val probe5 = names.exists(deep5Names)
    ScaleCurve.ensureDocs(spark, base, 500000L)
    ScaleCurve.ensureDocs(spark, deep, 5000000L)
    if (probe4) ScaleCurve.ensureDocs(spark, deep4, deep4Docs)
    if (probe5) ScaleCurve.ensureDocs(spark, deep5, deep5Docs)
    // out-of-timing warm-up: footers + dd13's stored corpus state (the
    // digest/signature tables a production incremental ingest reads, not
    // recomputes — same contract as Bench's warm-up)
    (Seq(base, deep) ++ (if (probe4) Seq(deep4) else Nil) ++
        (if (probe5) Seq(deep5) else Nil)).foreach { d =>
      graft.core.Tables.documents(spark, d).count()
      if (names.contains("dd13_incremental"))
        graft.queries.TextQueries.dd13StateFixture(spark, d)
      if (names.contains("dd23_incremental_prod") &&
          (d != deep4 || deep4Names.contains("dd23_incremental_prod")) &&
          (d != deep5 || deep5Names.contains("dd23_incremental_prod")))
        graft.queries.TextQueries.dd23StateFixture(spark, d)
    }
    // The artifact is merged + rewritten after EVERY query, not once at
    // the end: a deep run is tens of minutes per query and a wedged JVM
    // (GC-stalled heartbeat, host kill) must not discard the decades
    // already measured — a rerun then probes only what's missing.
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // min of 2 at each scale; no untimed warm-up — at these absolute
      // sizes codegen/JIT is noise (seconds against minutes) and a third
      // full run isn't free
      def best(dir: String): (Double, Long) = {
        val a = TimingSink.timedRun(spark, fn, dir)
        val b = TimingSink.timedRun(spark, fn, dir)
        (math.min(a._1, b._1), b._2)
      }
      // SPARK_GRAFT_DEEP5_ONLY=1 skips the base/5M/20M (re-)measurement
      // for queries that already carry those rows — a 50M attempt is
      // tens of minutes, and re-paying the shallow scales just to reach
      // it doubles the bill. writeMerged merges FIELD-wise, so the
      // existing shallow fields survive next to the fresh deep5 ones.
      val deep5Only = sys.env.get("SPARK_GRAFT_DEEP5_ONLY").contains("1") &&
        deep5Names.contains(name)
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      if (!deep5Only) {
        val (tB, nB) = best(base)
        val (tD, nD) = best(deep)
        System.err.println(f"[deep-docs] $name%-24s 500k: $tB%8.2f s " +
          f"(rows=$nB) -> 5M: $tD%8.2f s (rows=$nD)  x${tD / tB}%4.1f")
        parts += f""""base_sec":$tB%.2f,"base_rows":$nB,"deep_sec":$tD%.2f,"deep_rows":$nD"""
        if (deep4Names.contains(name)) {
          val (t4, n4) = best(deep4)
          System.err.println(f"[deep-docs] $name%-24s ${deep4Docs / 1000000}M: " +
            f"$t4%8.2f s (rows=$n4)  x${t4 / tD}%4.1f vs 5M")
          parts += f""""deep4_sec":$t4%.2f,"deep4_rows":$n4"""
        }
      }
      if (deep5Names.contains(name)) {
        val (t5, n5) = best(deep5)
        System.err.println(f"[deep-docs] $name%-24s ${deep5Docs / 1000000}M: " +
          f"$t5%8.2f s (rows=$n5)")
        parts += f""""deep5_sec":$t5%.2f,"deep5_rows":$n5"""
        // ALWAYS record the task-sizing knob this row was measured under
        // (writeMerged merges field-wise without deleting, so an absent
        // tag would leave a stale 256 next to a fresh default-knob row);
        // parse the env var so a non-numeric value can't corrupt the JSON
        val shufParts = sys.env.get("SPARK_GRAFT_SHUFFLE")
          .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
          .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt)
        parts += s""""deep5_shuffle_partitions":$shufParts"""
      }
      writeMerged(deep4Docs, deep5Docs,
        Map(name -> parts.mkString("{", ",", "}")))
    }
    spark.stop()
  }

  /** Merge `fresh` rows into the committed artifact and rewrite it.
    * Prior rows survive (a filtered invocation must not drop other
    * queries' measurements) unless they carry a different fixture
    * version — those measured different data. */
  private def writeMerged(deep4Docs: Long, deep5Docs: Long,
                          fresh: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val prior: Map[String, String] = {
      val f = new java.io.File(OutPath)
      if (!f.exists()) Map.empty
      else try {
        val root = mapper.readTree(f)
        if (Option(root.get("fixture_version")).map(_.asText)
              .contains(ScaleCurve.FixtureVersion)) {
          val qs = root.get("queries")
          scala.jdk.CollectionConverters.IteratorHasAsScala(qs.fieldNames())
            .asScala.map(n => n -> qs.get(n).toString).toMap
        } else Map.empty
      } catch { case _: Throwable => Map.empty }
    }
    // FIELD-level merge per query: a deep5-only invocation must land its
    // fresh deep5 fields NEXT TO the row's existing shallow-scale fields,
    // not replace the row (which would silently drop base/deep history)
    val mergedFresh = fresh.map { case (n, j) =>
      prior.get(n) match {
        case Some(pj) =>
          val pn = mapper.readTree(pj)
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val fn = mapper.readTree(j)
          // replace, not set: ObjectNode.set's generic return infers
          // Nothing under Scala foreach and class-casts at runtime
          scala.jdk.CollectionConverters.IteratorHasAsScala(fn.fieldNames())
            .asScala.toSeq.foreach(f => pn.replace(f, fn.get(f)))
          n -> pn.toString
        case None => n -> j
      }
    }
    val all = (prior ++ mergedFresh).toSeq.sortBy(_._1)
      .map { case (n, j) => s""""$n":$j""" }.mkString("{", ",", "}")
    val json = s"""{"fixture_version":"${ScaleCurve.FixtureVersion}"""" +
      s""","base_docs":500000,"deep_docs":5000000,"deep4_docs":$deep4Docs""" +
      s""","deep5_docs":$deep5Docs,"queries":$all}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(OutPath), json + "\n")
    println(json)
  }
}
