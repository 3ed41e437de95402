package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: every main (the graded [[Bench]],
  * [[Verify]], [[OracleFuzz]], the soaks and the accuracy runs) and the
  * test fixture build their session here, so correctness is proven
  * under the same conf the bench times. A caller chains a further
  * setting only when no other caller needs it, with a comment saying
  * why. `spark.driver.memory` is deliberately absent: in local mode the
  * driver JVM is already running when the builder sets it, so it is a
  * no-op — the heap is `SPARK_DRIVER_MEM` → `-Xmx` in build.sbt. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, otherwise every core the JVM sees. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // 4 MB Tungsten pages: the default scales to 64 MB at large
      // heaps, exceeding half of G1's 32 MB max region size — every
      // page then allocates as G1-humongous and GC time explodes
      // (observed 10-20x slowdowns at 64g heaps)
      .config("spark.buffer.pageSize", "4m")
      // events.parquet holds TIMESTAMP(NANOS); the reader only honours
      // this at session build time (a runtime conf.set does not reach
      // it), and `core.Tables` converts the long to µs TimestampType
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the default 100-entry codegen class cache cannot hold a
      // 233-query session: by the time the alphabetical run reaches
      // fc_*, every class the warmup compiled has been evicted and
      // fc_gbt re-pays ~9 s of Janino cold-compile (BENCH_r06's one
      // budget breach). 4000 entries (static conf, set before the
      // session exists) keeps warmup + cross-query shapes resident.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // r14: wide conditional aggregates (TreeBoost pass A/B at 102/196
      // output fields, the lags=14 OLS moment aggregates at ~137) were
      // silently ejected from whole-stage codegen by the default
      // spark.sql.codegen.maxFields=100 and ran interpreted — measured
      // 2.5x on fc_gbt's pass B (1.25 s -> 0.5 s). Width-, not
      // scale-dependent: the same aggregates exceed 100 fields at any
      // data size, so the raise is equally right at 100 TB. Results are
      // bitwise unchanged (same per-partition fold order either way).
      .config("spark.sql.codegen.maxFields", "1024")
      .config("spark.ui.enabled", "false")
}
