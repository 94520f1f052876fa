package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main runs on (Bench, Verify, Smoke,
  * PlanAudit, ForageJob, tools.Trace): the census configuration, so a plan
  * audited or traced here is the plan the census executes.
  *
  * Environment:
  *  - `SPARK_GRAFT_CPUS` — local worker threads and shuffle partitions; a
  *    positive integer, default the available processors.
  *  - `SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"` — extra Spark confs applied
  *    last (A/B lever, and the override for XL scale factors).
  *  - Spark's own `SPARK_LOCAL_DIRS` overrides the tmpfs shuffle directory.
  */
object Session {

  /** Shuffle and spill directory (tmpfs, see `settings`). */
  val LocalDir = "/dev/shm/graft_spark_local"

  /** `SPARK_GRAFT_CPUS`: a positive integer; unset means `default`. */
  def cpus(raw: Option[String], default: Int): Int = raw match {
    case None => default
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** `SPARK_GRAFT_EXTRA_CONF`: `;`-separated `key=value` entries, each with
    * a non-empty key; unset or empty means none. */
  def extraConf(raw: Option[String]): Seq[(String, String)] =
    raw.filter(_.nonEmpty).toSeq.flatMap { s =>
      s.split(";", -1).toSeq.map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONF entries must be key=value, got '$kv' in '$s'")
        }
      }
    }

  /** The census confs for `cpus` local threads. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Shuffle blocks on tmpfs, uncompressed: same rationale as the stream
    // harness's /dev/shm checkpoints — the cluster-shape analog is NVMe-
    // local shuffle storage, and at bench SFs the LZ4 round-trip plus disk
    // write latency is pure fixed overhead (measured −9% on the full
    // registry at sf0.1; sf1 shuffle volume is well under the tmpfs bound).
    // NOT sized for XL SFs: at sf100 the uncompressed shuffle set reaches
    // ~90 GB and the kernel OOM-kills the JVM — for those columns override
    // via SPARK_LOCAL_DIRS / SPARK_GRAFT_EXTRA_CONF (disk local dir + LZ4 +
    // more shuffle partitions; see SCALING.md "row-bound third decade").
    "spark.local.dir" -> LocalDir,
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    // Round 12: Spark's generated-class cache holds 100 entries by
    // default; a 247-query registry overflows it every pass, so every
    // whole-stage-codegen unit re-ran Janino compilation on every
    // invocation — THE session-rate disease PLANS.md's "control validity
    // domain" measured (full-registry control 0.62-0.88 vs 0.27-0.30 in
    // few-query sessions). Sized to hold the registry's classes once:
    // same-window A/B at sf0.1 read raw 135.9 → 101.6s (-25%) with the
    // control itself settling to the quiet-session plateau (0.656 →
    // 0.264). Not a local[32] trick: any production driver running
    // hundreds of distinct query shapes pays the same recompilation tax.
    // Static conf — must be set before the first session; EXTRA_CONF
    // can still override it for A/Bs.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // Round 13: cached-plan partition sizing. Memoized builder frames were
    // cached at 32-64 partitions regardless of size, so every downstream
    // stage scheduled 32-64 near-empty tasks (~3-5ms launch each) and the
    // concurrent broadcast futures multiplied that (the 32-vs-8-core
    // inversion, VERDICT r12 #1). Letting AQE re-optimize cached plans and
    // size coalesced partitions by the ADVISORY BYTE TARGET (not the core
    // count) makes the partition count track the data: tiny dimension
    // builds collapse to 1-2 partitions, 100TB frames still get
    // bytes/64MB at full parallelismFirst semantics. The floor is
    // minPartitionSize=2m (stock parallelismFirst=true, so big shuffles
    // keep bytes/parallelism sizing and heavy builds stay parallel; A/B'd
    // against parallelismFirst=false+64MB advisory and a 4m floor — 2m
    // kept every tiny-frame win while leaving medium shuffles parallel
    // enough, the best full-registry total of the three). Inert at scale:
    // bytes/parallelism >> 2MB on any real input, and a sub-2MB task is
    // launch overhead on any hardware. Compute-dense iterated frames
    // additionally pin their parallelism explicitly in their builders
    // (repartition(P, key)) because a byte-based coalescer cannot see
    // per-row compute density or explode amplification.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "2m",
    "spark.ui.enabled" -> "false")

  /** Builds (or returns the running) session from the environment. Bad
    * environment values fail here, before any Spark state exists. */
  def apply(): SparkSession = {
    val n = cpus(sys.env.get("SPARK_GRAFT_CPUS"), Runtime.getRuntime.availableProcessors())
    val extra = extraConf(sys.env.get("SPARK_GRAFT_EXTRA_CONF"))
    new java.io.File(LocalDir).mkdirs()
    val builder = SparkSession.builder().master(s"local[$n]")
    (settings(n) ++ extra).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
