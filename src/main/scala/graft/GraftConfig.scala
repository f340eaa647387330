package graft

import org.apache.spark.sql.SparkSession

/** Executable deployment defaults — SURVEY §6's measured 100 TB advice
  * surfaced as ONE config object instead of prose scattered across
  * scaladocs (r12 verdict item 8). Every knob here is backed by a
  * measurement in the repo and a spec that the knob actually switches
  * the plan/provider/sizing it claims (GraftConfigSpec):
  *
  *  - state-store provider: the heap provider holds the 100× session
  *    store at 4.74 GB where RocksDB holds it at 95 MB on-disk (§6
  *    third decade); results are byte-identical under both (the
  *    provider-parity StreamingSpec).
  *  - skew handling: AQE + skew-join splitting is remedy (2) of the
  *    documented ladder — (1) broadcast the small side, (2) AQE
  *    splitting, (3) explicit salting ([[operators.SkewJoin]]).
  *  - auto-sizing rules: the LSH key width and SemDeDup cell count
  *    must GROW with the corpus or per-bucket/per-cell work goes
  *    quadratic — both measured (52 s at 10× for fixed LSH bits in
  *    r10; 1.45 → 5.0 s per-arrival for fixed k in r12) and both now
  *    resolved from corpus row counts by default. Re-exported here so
  *    a deployment tunes occupancy in one place.
  */
object GraftConfig {

  /** Spark's bundled RocksDB state-store provider. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Point a session's streaming state at RocksDB — the swap for any
    * stateful job whose state outgrows executor heap (session stores,
    * per-entity folds at 10⁸+ live entities). One conf, no operator
    * change, byte-identical results (spec-pinned at the provider
    * level AND value level). Returns the session for chaining.
    *
    * Operating evidence (decades_r16 Section B — the INTERLEAVED
    * same-session H/R/H/R cycle A/B, which removes the cross-session
    * box swing that flipped the r14/r15 steady-state stories): at
    * equal state (530k rows, identical pairs every wave), RocksDB
    * holds 0.28 GB in-JVM where heap holds 1.88 GB — the ~7×
    * compression that motivates the flip, stable across every session
    * measured. Wall costs, confound removed: steady-state waves run
    * ~1.7× heap's on this in-heap-sized workload (waves 2-3 over two
    * interleaved cycles each: RocksDB 32.0-76.8 s mean 55.8, heap
    * 18.0-41.0 s mean 33.5 — JNI get/put per row plus SST
    * flush/copy/sync at commit, itemized in the wave metrics), and the
    * FIRST commit of a fresh store pays the named state-materialization
    * surcharge (full SST + snapshot build; rocksdbCommitCheckpointLatency
    * 195.7 s summed/32 partitions in the r15 session, 34.8 s in the
    * calmer r16 one, collapsing to sub-second once rocksdbFilesReused
    * takes over).
    *
    * r17 (decades_r17 Section C — the THREE-arm interleaved cycle
    * h/r/c/h/r/c in one session): that 1.3-1.9× steady-state premium
    * was CONFIGURATION, not engine. With changelog checkpointing
    * enabled, every per-commit SST metric (BytesCopied 574 MB,
    * FilesCopied, CommitFlush 3.3 s, SaveZipFiles 2.0 s, FileSync
    * 3.6 s, compaction) vanishes from the wave path — only the
    * changelog writer's commit remains (7.2 s summed/32 partitions) —
    * and RocksDB becomes the FASTEST arm (steady waves mean 59.8 s vs
    * heap's 85.1 and plain-RocksDB's 89.6 on the same session's box).
    * So this flip now enables changelog checkpointing BY DEFAULT; the
    * trades, measured: state stays memtable-resident until background
    * snapshot maintenance (provider memory reads heap-like in a
    * short-cycle harness — 1.98 GB vs the flushed 0.28 GB working
    * set; the ~7× compression applies to the flushed steady state),
    * and recovery replays the changelog against the last snapshot
    * (Spark's documented longer-failover trade). Pass
    * `changelogCheckpointing = false` for snapshot-per-commit
    * durability (fastest recovery), accepting the measured commit
    * premium. RECOMMENDATION: default to heap while total state fits
    * executor heap with headroom; flip (with the changelog default)
    * when it does not.
    */
  def useRocksDbStateStore(spark: SparkSession,
      changelogCheckpointing: Boolean = true): SparkSession = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      RocksDbProvider)
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled", changelogCheckpointing.toString)
    spark
  }

  /** Parquet row-group size (bytes) for every file this engine writes —
    * staged DumpCache artifacts, sink round-trips, and the scale
    * fixture (r20 optimization round, guide §2.5 "one huge unsplittable
    * file" + §6 file layout). A parquet SCAN parallelizes at row-group
    * granularity: Spark plans byte-range splits (min-partition floor =
    * default parallelism), but a split only produces rows if a
    * row-group MIDPOINT falls inside it — with the parquet default
    * 128 MB block size, every artifact under 128 MB is ONE row group
    * and its scan runs on ONE core no matter how many splits are
    * planned. Measured on the 100× fixture's 59 MB documents file
    * (32 cores, decades_r20 Section E): full-column noop scan 4.88 s
    * as one row group vs 0.28 s after an 8 MB-row-group rewrite of the
    * SAME rows in the SAME single file (17×); a regex projection over
    * text 8.65 → 0.94 s (9×). 8 MB keeps a single-file artifact
    * splittable ~8-16 ways per 100 MB while staying far above the
    * per-row-group metadata/compression floor; a petabyte deployment
    * writing many ≥1 GB files per table should raise it back toward
    * 128 MB (splits then come from file count), which is why it is a
    * named constant and not a scattered literal.
    */
  val ParquetRowGroupBytes: Long = 8L * 1024 * 1024

  /** The Hadoop conf key that picks the `FileContext` filesystem of a
    * URI scheme, here `file:`.
    */
  val LocalFileContextImplKey: String = "fs.AbstractFileSystem.file.impl"

  /** The session conf key that gives a session its own artifact
    * classloader (Spark's default: true).
    */
  val ArtifactIsolationKey: String = "spark.sql.artifact.isolation.enabled"

  /** Apply graft's session defaults to a session that has run no query
    * yet. The first two go on the SparkContext Hadoop conf, so they reach
    * every query started afterwards; the third is a session conf, copied
    * by every streaming clone and passed on by [[newSession]]:
    *
    *  - row-group size for every parquet write in the process (read by
    *    the parquet writer). Content is byte-identical row-for-row —
    *    only the row-group boundaries move — so no oracle changes; reads
    *    of the artifacts parallelize per the measurement above.
    *  - [[ForkFreeLocalFs]] as the `FileContext` filesystem of `file:`,
    *    which every streaming checkpoint write (state-store deltas,
    *    offset and commit logs) goes through. Without libhadoop, stock
    *    `RawLocalFileSystem` forks a shell `chmod` per file it creates
    *    and shell `readlink`s on both rename ends: 20 forks per
    *    state-delta commit (4 `chmod` and 16 `readlink` over the delta,
    *    Spark's `.delta.crc` sidecar and Hadoop's `.crc` of each), so 80
    *    per micro-batch at 4 state partitions plus 20 for the offset and
    *    commit logs. A `traffic_backlog` perfbench run
    *    started 4,229 processes before and 14 after (Spark's own `rm`,
    *    `getconf`, `setsid`), and the live state commit fell from 499 to
    *    31 ms (p50, 4 cores). File names, `.crc` files, modes and the
    *    temp-file-plus-rename protocol are unchanged. `fs.file.impl` is
    *    left alone: `FileSystem.get` caches instances per scheme, so
    *    setting it after session start would not reliably take, while
    *    `FileContext` caches nothing. `hdfs:`/`s3:` are untouched.
    *  - artifact isolation off, so every session shares one codegen
    *    cache and one set of JIT-warm generated classes. Spark caches
    *    each Janino compile under the task thread's classloader, and with
    *    isolation on (Spark's default) the executor runs each session's
    *    tasks under that session's own loader. Every streaming query
    *    runs in a clone of its session, so each query start, and each
    *    `newSession()`, recompiled classes the JVM already held and ran
    *    them on a cold JIT. A timed `traffic_backlog` perfbench drain
    *    made 23 Janino compiles before and 0-4 after, its first batch's
    *    `addBatch` fell from 544-845 to 301-553 ms, and backlog tumble
    *    throughput rose from 97.2k to 126.5k msg/s (4 cores). Spark
    *    reads the setting once per session, at its first query, so it
    *    must be set before that. Precondition: graft adds no session
    *    artifacts (no `addArtifact`, no `addJar`). A multi-tenant Spark
    *    Connect deployment that adds jars per session needs the
    *    isolation and must not take this default.
    */
  def useSplittableWrites(spark: SparkSession): SparkSession = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setLong("parquet.block.size", ParquetRowGroupBytes)
    hc.set(LocalFileContextImplKey, classOf[ForkFreeLocalFs].getName)
    spark.conf.set(ArtifactIsolationKey, "false")
    spark
  }

  /** `spark.newSession()` with `spark`'s artifact-isolation setting.
    * Runtime confs do not reach a new session, so a plain `newSession()`
    * of a session set up by [[useSplittableWrites]] would isolate itself
    * again and recompile what the parent already compiled.
    */
  def newSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ArtifactIsolationKey, spark.conf.get(ArtifactIsolationKey))
    s
  }

  /** The corpus size (documents rows) at which the HEAVY-state harness
    * rows cross from the heap regime into the flip regime — the
    * executable form of the size-conditioned recommendation above for
    * [[graft.Bench]]'s suite runs. Calibrated r19 from the committed
    * two-scale A/B (bench_raw/r19/stateful100x_*.json + the sf0.1
    * pair): at 5k docs (sf0.1) every suite row's state is 0.5-40 MB
    * and the flip only adds fixed store overhead; at 500k docs (the
    * 100× fixture) the heavy rows hold 0.2-3.7 GB of state and the
    * flip measured 0.67-0.94× on exactly those rows. 50k sits an
    * order of magnitude from both measured points.
    */
  val StateStoreFlipDocs: Long = 50000L

  /** The harness rows whose state is heavy enough to cross the flip
    * threshold: the delta-LSH signature fold, the audit ladder's
    * stateful rungs, and the two session stores. Chosen by the r19
    * measurement, not by name: these are the rows where the flip won
    * at 100× (q_stream_hot_lines, named by the r18 verdict alongside
    * them, measured 1.34× AGAINST — its per-line window state stays
    * small — so it stays heap).
    */
  val HeavyStateHarnessRows: Set[String] = Set(
    "q_stream_delta_lsh", "q_stream_audit",
    "q_stream_session_paths", "q_stream_session_paths_capped")

  /** Let AQE coalesce the shuffle partitions of plans that feed or read
    * a `.cache()` (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`,
    * default false upstream because a cached plan's output partitioning
    * becomes advisory rather than fixed — results are unchanged, only
    * the partition count adapts to the observed bytes). The engine's
    * multi-consumer operators pin small candidate slivers with
    * `.cache()` (the measured anti-plan-explosion device, e.g.
    * `dedup_substring_delta`'s 92→120-Exchange uncached lesson), and
    * with the flag off every stage under a cache keeps the static
    * `spark.sql.shuffle.partitions` count no matter how few bytes flow —
    * per-task fixed costs then grow with the core count instead of the
    * data (the measured 8-core-beats-32-core inversion at sf0.1).
    * Measured (r21 optimization round, same-session isolated warm A/B at
    * sf0.1/32 cores): ann_ivfpq 3.42→2.28 s, dedup_clusters_delta
    * 3.32→2.21, dedup_containment 2.46→2.16, dedup_substring_delta
    * 1.85→1.79; full cold suite 162.5→143.9 s with the sole ceiling
    * violation cleared. Scale-adaptive by construction: at 100×-class
    * inputs AQE keeps enough partitions for the bytes, so nothing is
    * tuned to the local core count.
    */
  def useAdaptiveCachedPlanPartitioning(spark: SparkSession): SparkSession = {
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark
  }

  /** Enable the adaptive-execution skew defaults: AQE re-planning,
    * skew-join splitting, and partition coalescing — remedy (2) of the
    * skew ladder, the one that needs no code. (1) is Catalyst's own
    * broadcast decision; (3) is [[operators.SkewJoin.saltedJoin]] for
    * hot keys AQE's split granularity can't tame.
    */
  def useAdaptiveSkewHandling(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark
  }

  /** Hyperplane-LSH key width for a corpus of n vectors (expected
    * bucket occupancy ≈ 125): the rule `dedup_embed_lsh` /
    * `embed_knn_graph_lsh` / `decontam_embed_lsh` resolve by default.
    */
  def lshBits(corpusRows: Long): Int = operators.Similarity.lshBitsFor(corpusRows)

  /** SemDeDup cell count for a corpus of n vectors (expected cell
    * occupancy ≈ 200): the rule the SemDeDup family resolves by
    * default.
    */
  def semDedupCells(corpusRows: Long): Int =
    operators.Similarity.semDedupKFor(corpusRows)

  /** Flat→two-level assignment swap point for the SemDeDup quantizer:
    * at or under this many cells, corpus rows assign by the flat
    * linear centroid scan (every hash-gate corpus resolves k = 10 and
    * stays here); above it, assignment runs the two-level coarse→fine
    * search (⌈√k⌉ coarse cells trained deterministically on the fine
    * centroids, 2-cell probe) — the device that keeps total assignment
    * work Θ(n·√k) where the flat scan with k ∝ n is Θ(n²/200),
    * measured as ~80% of the 24.7 s 100×-fixture `dedup_semdedup` row
    * before the swap (r13 What's-wrong #1; the r14 decade capture
    * carries the after-row). Spec-pinned: the tag this threshold
    * resolves rides every staged-generation cache key.
    */
  def semDedupTwoLevelMinCells: Int =
    operators.Similarity.SemDedupTwoLevelMinK

  /** Exact→LSH edge-source swap point for graph consumers of the kNN
    * graph (`graph_pagerank` / `graph_triangles`): at or under this
    * many vectors the edge list is the exact all-pairs top-k (every
    * hash-gate corpus is ≤ 2,000 vectors and the 10× fixture's 20,000
    * measured ~6 s — all resolve exact, oracles unchanged); above it
    * the consumers rank over the hyperplane-LSH candidate edges,
    * because the exact builder is Θ(n²) BY CONTRACT and the 100×
    * fixture's 200k vectors turn the "linear" graph rows into a
    * ~2×10¹⁰-dot-product edge build (the r14 100× screen's measured
    * wall). Spec-pinned via `knnSourceTagFor`.
    */
  def knnEdgesExactMaxVectors: Long =
    operators.Similarity.KnnEdgesExactMaxVectors

  /** Shuffle-partition sizing: enough partitions that a partition's
    * input fits comfortably in task memory (`targetBytes`, default
    * 128 MiB — the spill threshold rule of thumb), floored at 2×cores
    * (keep every core busy through stragglers) and capped at 10000
    * (scheduler overhead dominates past that; AQE coalesces the rest).
    */
  def shufflePartitionsFor(inputBytes: Long, cores: Int,
      targetBytes: Long = 128L << 20): Int = {
    // ceil-divide WITHOUT the `input + target - 1` addition: that form
    // overflows Long when inputBytes is within targetBytes of
    // Long.MaxValue, going negative and silently returning the 2×cores
    // floor instead of the 10000 cap (r13 ADVICE)
    val byData = inputBytes / targetBytes +
      (if (inputBytes % targetBytes == 0) 0L else 1L)
    math.min(10000L, math.max(2L * cores, byData)).toInt
  }
}
