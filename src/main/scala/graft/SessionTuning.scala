package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session defaults shared by every harness entry point
  * (Bench/Verify/Explain and the dev tools), applied in ONE place so the
  * bench, the correctness gate and the dev loop measure the same engine.
  *
  * Every setting here must hold at any scale — a value that only makes
  * sense on local[32] does not belong. Each is overridable through the
  * environment (`SPARK_GRAFT_CONF_<suffix>`), keeping the driver's bench
  * comparable while a cluster deployment can re-tune without a rebuild
  * — all but the codegen cache size, which follows from the engine's
  * own session reuse (see its comment).
  *
  * `canChangeCachedPlanOutputPartitioning=true` (round-18, guide §2.4):
  * Spark disables AQE re-planning inside `persist()` materialization by
  * default to keep a cached plan's output partitioning stable for
  * downstream reuse. This engine's caches are all either group-sized
  * rollups (MV maintenance, HistogramNtile bases, dedup candidate sets)
  * or explicitly re-clustered after caching, so partitioning stability
  * buys nothing — while the default forces every cached-plan shuffle to
  * the static `spark.sql.shuffle.partitions` width. On group-sized
  * frames that is dozens of empty tasks per action (ProfileTarget on
  * lake_incr_mv: 37 stages, 51 core-s of stage run vs 19.5 core-s of
  * CPU, several 32-task stages moving zero bytes). With AQE allowed in,
  * those shuffles coalesce to the data's real width at ANY scale — a
  * 100 TB delta keeps its thousands of partitions; a 6-group view stops
  * paying for 32. Hash partitioning semantics survive coalescing
  * (`CoalescedHashPartitioning` still satisfies the downstream
  * ClusteredDistribution), so exchange-reuse patterns like the pagerank
  * dst-clustered edge cache keep their zero-exchange iterations.
  */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("SPARK_GRAFT_CONF_AQE_CACHED", "true"))
      // FileOutputCommitter v2 (round-19, guide §6): v1's job commit
      // renames every task's output SEQUENTIALLY on the driver —
      // O(files) round trips per write, the classic object-store commit
      // bottleneck. v2 moves each file at task commit (parallel, in the
      // task); same committed layout, same part-file names. The failure
      // mode v1 guards against (partial output visible after a mid-job
      // crash) is already covered by the lake write protocol: every
      // write lands in a fresh UUID directory and only footer-harvested
      // files from a SUCCESSFUL write enter the manifest — an aborted
      // job's files are unreferenced orphans removeOrphanFiles reclaims.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        sys.env.getOrElse("SPARK_GRAFT_CONF_FOC_ALGO", "2"))
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
      // generated. No env override: the value follows from how the
      // engine reuses sessions.
      .config("spark.sql.codegen.cache.maxEntries", "192")
}
