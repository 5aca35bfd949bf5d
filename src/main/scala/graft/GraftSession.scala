package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place the engine's LOAD-BEARING session config lives. Every
 * entry point (CLI, Verify, Bench, tests, user code) must carry the
 * same five settings or parts of the library silently or loudly break:
 *
 *  - `spark.sql.extensions = graft.plans.GraftExtensions` — registers
 *    the native expressions (`graft_poly_hash`, `graft_dot`,
 *    `graft_minhash`, `graft_char_entropy`, …) and the nanos-range
 *    pushdown rule; without it every operator built on them fails to
 *    resolve;
 *  - `spark.sql.legacy.parquet.nanosAsLong = true` — the `events`
 *    fixture (and any TIMESTAMP(NANOS) parquet) is unreadable without
 *    it (PARQUET_TYPE_ILLEGAL);
 *  - `spark.sql.session.timeZone = UTC` — the normalize rule table and
 *    every timestamp oracle are defined in UTC; a local-TZ session
 *    shifts parsed timestamps and breaks hash parity;
 *  - ANSI stays at the Spark 4 default (ON) — the library's arithmetic
 *    is written for it (`try_cast`, guarded divisions);
 *  - the `file:` filesystem is `graft.io.ForkFreeLocalFileSystem`
 *    (`FileSystem` API) and `graft.io.ForkFreeLocalFs` (`FileContext`
 *    API, streaming checkpoints) — without `libhadoop` the stock classes
 *    fork `chmod` for every file and directory they create and
 *    `readlink` for every checkpoint rename, a few milliseconds each
 *    and dozens per table write or micro-batch. Outputs are unchanged.
 *    Hadoop's `FileSystem` cache is JVM-wide and keyed without the
 *    config: a `file:` instance fetched before this session exists (say
 *    `FileSystem.get` over a bare `new Configuration()`) stays the stock
 *    class for the life of the JVM, so build the session first.
 *
 * Use [[builder]] to start from these and layer app-specific config on
 * top, or [[local]] for the common local-run shape where
 * `spark.sql.shuffle.partitions` should equal the core count rather
 * than the 200 default (local runs have no 200-way parallelism to
 * exploit; mis-sized shuffles dominate small-scale benchmarks).
 */
object GraftSession {

  /** A builder pre-loaded with the engine's required config. The Spark
   * UI is left at the caller's default — disable it yourself for
   * headless runs. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)

  /** The standard local-run session: `local[cpus]` with shuffle
   * partitions sized to the core count and the UI off. */
  def local(cpus: Int): SparkSession = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
