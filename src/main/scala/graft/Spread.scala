package graft

import org.apache.spark.sql.DataFrame

/** Narrow-input spreading (round 20, guide §2.5 "input skew: one huge
  * unsplittable file").
  *
  * Parquet scans parallelize at ROW-GROUP granularity: a small table
  * written as one row group yields exactly one non-empty scan task no
  * matter how many splits the planner makes, so every expression
  * evaluated below the first exchange — decimal aggregation buffers,
  * shingling, hashing, codec work — runs on ONE core while the rest of
  * the session idles (measured: q48's 6 decimal sums spent 1.7 s of its
  * 2.2 s in a 1-effective-task stage at sf0.1 on 32 cores).
  *
  * [[ifNarrow]] inserts a round-robin repartition after the scan ONLY
  * when the plan's input is both few files and few bytes relative to the
  * session's parallelism — at scale (many files, or big inputs whose
  * row-group count already covers the cluster) it is the identity, so
  * the exchange it adds is never paid where the scan is already wide.
  * The byte threshold is per-core and conf-tunable
  * (`spark.graft.spread.bytesPerCore`, default 8 MB): "narrow" means
  * the whole input is smaller than what the cluster's cores would each
  * be handed as ONE ordinary split's worth of work.
  *
  * Determinism: round-robin repartition is retry-safe under Spark's
  * sort-before-repartition default, and every caller is either a
  * partitioning-independent aggregate (exact decimal sums, HLL merges)
  * or re-establishes order downstream (keyed windows, final orderBy) —
  * the same contract those operators already relied on under AQE's
  * partition re-planning.
  */
object Spread {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.spread")
  private val DefaultBytesPerCore = 8L * 1024 * 1024
  /** Rejected conf values already warned about (one warning each). */
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-core input-byte threshold below which a narrow scan is spread. */
  private def bytesPerCore(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.spread.bytesPerCore")
      // tolerate a malformed conf value (fall back to the default)
      // rather than throwing NumberFormatException at plan time inside
      // every spread-wrapped query (round-21 advisor fix), but say so:
      // a typo ("64m") must not pass silently for the default
      .flatMap { v =>
        val parsed = scala.util.Try(v.toLong).toOption
        if (parsed.isEmpty && warned.add(v))
          log.warn(s"ignoring spark.graft.spread.bytesPerCore='$v' " +
            s"(not a whole number of bytes); using $DefaultBytesPerCore")
        parsed
      }
      .getOrElse(DefaultBytesPerCore)

  def ifNarrow(df: DataFrame): DataFrame = {
    // streaming plans repartition per micro-batch and have no stable
    // inputFiles — the narrow-scan fix is a batch concern only
    if (df.isStreaming) return df
    val sess = df.sparkSession
    val p = sess.sparkContext.defaultParallelism
    val files = df.inputFiles
    // Fire only when the scan is REALLY narrow: a quarter of the
    // cluster's cores or less. A 10-file scan on 32 cores measured
    // SLOWER with the spread at 10× (d01 149 → 195 s — the exchange
    // costs more than the extra cores win once the scan is ≥¼-wide);
    // a 1-file scan is where the single-row-group pathology lives. At
    // 100 TB this is the branch that always wins — no per-file stats.
    if (files.isEmpty || files.length > math.max(1, p / 4)) return df
    val conf = sess.sessionState.newHadoopConf()
    val total =
      try {
        val sample = new org.apache.hadoop.fs.Path(files.head)
        val fs = sample.getFileSystem(conf)
        files.map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
      // NonFatal, not Throwable: the no-spread fallback must not swallow
      // fatal errors or interrupts (round-21 advisor fix)
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    if (total < p.toLong * bytesPerCore(df)) df.repartition(p) else df
  }
}
