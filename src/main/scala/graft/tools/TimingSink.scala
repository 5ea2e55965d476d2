package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing sink every measurement tool (Bench / ScaleCurve /
  * CoreScale / DeepDocsProbe / ProfileE2E / Profile) and the perfbench
  * harness consume a query through.
  *
  * `df.count()` is NOT a valid timing sink: it wraps the plan in a new
  * count aggregate and re-optimizes, and the optimizer is then free to
  * DELETE work the query would do for a real consumer — most acutely
  * left-outer joins whose right side is an aggregate keyed on the join
  * columns (unique keys, only left-side output referenced -> the join
  * is eliminated wholesale, SPARK-36194). The ExactSubstr dedup family
  * ends in exactly that shape (docs LEFT JOIN per-doc aggregate), so a
  * count()-sink "measurement" of dd24/dd26 timed a bare parquet scan:
  * 20M docs in 0.35 s, with every window hash, occurrence aggregation,
  * and reassembly join optimized out. Discovered when the round-11
  * production-window probe returned fourth-scale rows faster than the
  * first-decade ones.
  *
  * `queryExecution.toRdd` executes the dataframe's OWN physical plan —
  * no count rewrite, every output column materialized (UnsafeRow), the
  * plan a real consumer (parquet sink, downstream stage) would pay.
  * Counting that RDD is the honest "run the query, discard the rows"
  * sink. The cost delta vs count() for non-eliminable queries is the
  * final projection of output columns, which a real consumer also pays.
  */
object TimingSink {
  def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** One timed run of `fn` over `dir`: (seconds, rows). The timed window
    * covers the query's construction (eager checkpoints, driver-side
    * fits) and [[rows]].
    *
    * Per-run state hygiene happens outside the window. clearCache only
    * drops catalog-registered InMemoryRelations. Eager localCheckpoint
    * blocks (the dedup family's deterministic-lifetime materializations)
    * are persistent RDDs freed by the ContextCleaner only AFTER their
    * handles are GC'd — asynchronously, i.e. the block-manager removals
    * race the next timed run. They are dropped synchronously before
    * EVERY run: a checkpointing query re-run 5 times by Bench's adaptive
    * loop otherwise accumulates 5 generations of deserialized blocks on
    * the heap, and the growing GC pressure is exactly the kind of
    * self-inflicted drift that keeps max > 1.5×min forever (the r3
    * recorded-vs-plan gap). */
  def timedRun(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
               dir: String): (Double, Long) = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    val t0 = System.nanoTime()
    val n = rows(fn(spark, dir))
    ((System.nanoTime() - t0) / 1e9, n)
  }
}
