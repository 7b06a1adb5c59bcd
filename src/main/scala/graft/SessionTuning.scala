package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session defaults shared by every harness entry point
  * (Bench, Verify, the dev tools under `graft.tools` and the test
  * suites), applied in ONE place so the bench, the correctness gate, the
  * dev loop and the tests measure the same engine. [[local]] is the one
  * local harness session built on them.
  *
  * Every setting here must hold at any scale — a value that only makes
  * sense on local[32] does not belong. None reads the environment: a
  * cluster deployment re-tunes through its own session confs.
  *
  * `canChangeCachedPlanOutputPartitioning=true` (round-18, guide §2.4):
  * Spark disables AQE re-planning inside `persist()` materialization by
  * default to keep a cached plan's output partitioning stable for
  * downstream reuse. This engine's caches are all either group-sized
  * rollups (MV maintenance, HistogramNtile bases, dedup candidate sets)
  * or explicitly re-clustered after caching, so partitioning stability
  * buys nothing — while the default forces every cached-plan shuffle to
  * the static `spark.sql.shuffle.partitions` width. On group-sized
  * frames that is dozens of empty tasks per action (the per-stage
  * probe on lake_incr_mv: 37 stages, 51 core-s of stage run vs 19.5
  * core-s of CPU, several 32-task stages moving zero bytes). With AQE
  * allowed in, those shuffles coalesce to the data's real width at ANY
  * scale — a 100 TB delta keeps its thousands of partitions; a 6-group
  * view stops paying for 32. Hash partitioning semantics survive coalescing
  * (`CoalescedHashPartitioning` still satisfies the downstream
  * ClusteredDistribution), so exchange-reuse patterns like the pagerank
  * dst-clustered edge cache keep their zero-exchange iterations.
  */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // FileOutputCommitter v2 (round-19, guide §6) for the NON-lake
      // file writes — corpus data generation, Verify's dumps, bench
      // scratch copies. Lake writes use no output committer at all
      // (graft.lake.LakeWriter: tasks write final files and return their
      // manifest entries). v1's job commit renames every task's output
      // SEQUENTIALLY on the driver — O(files) round trips per write, the
      // classic object-store commit bottleneck; v2 moves each file at
      // task commit (parallel, in the task), same layout and names. v2's
      // task commit is not atomic (MAPREDUCE-7282): a task that dies
      // mid-commit can leave part of its output, so these writes must
      // not be read as all-or-nothing. Kept because switching the corpus
      // set-up back to v1 puts its set-up time at risk unmeasured.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // Spark's generated-class cache (static conf, default 100),
      // keyed by (class loader, source). The lake's derived sessions
      // (SessionBridge) keep their class loaders, so a repeated lake
      // statement can hit this cache — if its classes survive until it
      // repeats. Measured on the lake benchmark (perfbench `lake`, 21
      // ops a cycle, local[4]): a cycle touches 121 distinct classes —
      // about 85 that every cycle reuses plus 36 one-offs whose point
      // keys and date bounds Spark inlines as literals. The cache is a
      // segmented LRU (4 segments of maxEntries / 4), so the bound needs
      // headroom over that working set: 100 or 128 keep evicting the
      // reused classes (78 to 123 compilations a cycle), 160
      // settles only after four cycles, and 192 holds them from the
      // second cycle on (36 compilations a cycle, the literal-driven
      // floor; 500, 2,000 and 100,000 measured the same). The cost is
      // the retained classes and their source strings. Measured with the
      // derived sessions on a 4-vCPU host, metaspace stayed level (173
      // vs 170 MB at the end of a lake run) and the heap peak fell
      // (1,462 vs 858 MB, traced run), since far fewer classes are
      // generated. The value follows from how the engine reuses
      // sessions.
      .config("spark.sql.codegen.cache.maxEntries", "192")

  /** Cores of a harness session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The local harness session: [[apply]]'s confs on `local[cpus]` with
    * one shuffle partition per core, UTC, the lake SQL extensions and no
    * UI. Callers add only their own settings before `getOrCreate()`. */
  def local(cpus: Int = SessionTuning.cpus): SparkSession.Builder =
    apply(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet is TIMESTAMP(NANOS); declared at session build so
      // the toggle is harness-visible, not a hidden per-read mutation
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.lake.sql.LakeSqlExtensions")
      .config("spark.ui.enabled", "false")
}
