package graft

import org.apache.spark.sql.{RuntimeConfig, SparkSession}

/** The one session factory: every main and spec starts from [[builder]],
  * so the engine a tool profiles is the engine the bench runs. A caller
  * with a genuine extra setting adds it with `.config` before
  * `getOrCreate()`.
  */
object Session {

  private val CpusVar = "SPARK_GRAFT_CPUS"

  /** Local core count: `SPARK_GRAFT_CPUS`, default the JVM's available
    * processors. Anything but a positive integer fails naming the var. */
  def cpus(env: Map[String, String] = sys.env): Int =
    intEnv(CpusVar, Runtime.getRuntime.availableProcessors(), 1, env)

  /** An integer env var of a main, `default` when unset; a garbage or
    * too-small value fails naming the variable. */
  def intEnv(name: String, default: Int, min: Int, env: Map[String, String] = sys.env): Int =
    env.get(name).fold(default)(atLeast(name, _, min))

  private def atLeast(name: String, raw: String, min: Int): Int =
    raw.trim.toIntOption.filter(_ >= min).getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer >= $min, got '$raw'"))

  /** `local[cpus]` with the engine config. `aqeStart512` is the
    * query-catalog posture (Bench, Verify, the scale benches): AQE starts
    * every shuffle at 512 partitions and coalesces to its advisory size,
    * so partitions are sized by BYTES, not cores — small inputs still run
    * at ~core-count tasks while 100× corpora fan out instead of spilling
    * (sf100 finding: q29's verify join at 32 fixed partitions = 4.7M
    * rows/sort-partition → 181 s; AQE-sized → 94 s, back to linear). A
    * 1000-executor cluster never runs keyed shuffles at 32 partitions.
    * Left unset, AQE starts at `shuffle.partitions` (= cpus), the posture
    * for MB-scale ETL days and the specs. */
  def builder(cpus: Int = Session.cpus(), aqeStart512: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      // native functions + date-string-compare pushdown rule
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // lift BloomFilterAggregate's 4M-item clamp: q75's hand-built
      // runtime filter inserts ~11M keys at sf100 and the J5 sidecar
      // blooms ~20M ids per sf100 day; a clamped item count mis-sizes the
      // hash count (k for 4M with 11M inserted ≈ 17% fp vs ~6% optimal).
      // Affects only our own bloomAgg calls — InjectRuntimeFilter needs
      // stats this corpus lacks either way.
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "67108864")
    if (aqeStart512) b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
    else b
  }

  /** An integer `spark.graft.*` knob, parsed and bounded where it is
    * read: a too-small or garbage value fails naming its conf key, not
    * as a bare NumberFormatException from inside a stage. */
  def intKnob(conf: RuntimeConfig, key: String, default: Int, min: Int): Int =
    atLeast(key, conf.get(key, default.toString), min)
}
