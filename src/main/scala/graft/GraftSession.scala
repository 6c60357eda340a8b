package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builders for the engine.
  *
  * `local()` — test/bench shape (local[N], N shuffle partitions).
  * `production()` — the 100 TB-shape defaults: AQE (runtime coalescing +
  * skew-join splitting replaces hand-tuned parallelism), RocksDB state
  * store for the big streaming dedup/join states (the reference's RocksDB
  * backend is commented out at e.g. DimApp.java:30-33 — here it's on),
  * and shuffle sizing meant to be overridden per cluster via --conf.
  * `harness()` — the command-line mains and the test JVM.
  * All three apply one shared block (`recipe`): the engine's SQL
  * extensions (`GraftExtensions`: the native functions and the band-join
  * rule), the fork-free local file system and compile-once code
  * generation. A session built any other way needs
  * `spark.sql.extensions=graft.functions.GraftExtensions`; without it a
  * query that calls a native function fails at analysis with
  * `UNRESOLVED_ROUTINE`, naming the function.
  */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    base(SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()

  def production(): SparkSession =
    base(withProductionConfs(SparkSession.builder())).getOrCreate()

  /** The production() conf block applied to an arbitrary builder — lets
    * the local correctness gate run under the 100 TB profile (the
    * partition-count-invariance proof: decimal sums and integer math make
    * every oracle result independent of parallelism, so 4096-partition
    * plans must hash-match the 8-partition gate bit for bit). */
  def withProductionConfs(b: SparkSession.Builder): SparkSession.Builder =
    b
      // one-partition-per-core scheduling is left to the cluster manager;
      // shuffle partitions high enough that a 100 TB shuffle stays under
      // ~256 MB per partition, then AQE coalesces small ones at runtime
      .config("spark.sql.shuffle.partitions", "4096")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)

  /** The command-line mains' and the test JVM's session: `master`,
    * `partitions` shuffle partitions, UTC, nanos-as-long parquet, no UI,
    * and the shared block (`recipe`). */
  def harness(master: String, partitions: String): SparkSession.Builder =
    recipe(SparkSession.builder().master(master))
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** What every session the engine builds shares; `base()` and
    * `harness()` both apply it. The SQL extensions install the native
    * functions and the band-join rule once, at session build (and on
    * every `newSession()` of the session), so no query registers either.
    * The confs take effect once per JVM, when its first session starts:
    * the fork-free local file system (`withLocalFs`) and compile-once
    * code generation (`withCodegenReuse`). */
  private def recipe(b: SparkSession.Builder): SparkSession.Builder =
    withCodegenReuse(withLocalFs(b))
      .withExtensions(new graft.functions.GraftExtensions)

  /** Serves `file:` with Hadoop's own local file system minus its forks
    * (`ForkFreeLocalFileSystem` for the `FileSystem` API,
    * `ForkFreeLocalFs` for `FileContext`, which Spark's checkpoint file
    * manager uses).
    *
    * Why: Spark's jars ship no `libhadoop`, so stock Hadoop starts an OS
    * process for every `setPermission` (`chmod`, once for each created
    * file and once for its `.crc`) and every `getFileLinkStatus`
    * (`readlink`, 8 per `FileContext.rename`). Every micro-batch of every
    * streaming layer publishes offset, commit, state-store and sink-log
    * files. Per small file in a 3 GB-heap JVM (JDK 17, 4-vCPU VM), stock:
    * `FileContext` create 8.4 ms + rename 31.4 ms, `FileSystem.create`
    * 8.7 ms; fork-free: 0.3 + 0.4 ms and 0.3 ms. One warehouse pipeline
    * round (perfbench, seed 1) started 6,161 such processes; it now
    * starts none.
    *
    * What stays identical: the `.crc` sidecars, Spark's state-file
    * checksums, the no-overwrite rename check, the permission bits (a
    * sticky bit and every symlink still take Hadoop's own code), atomic
    * publish by rename, and every other scheme. What is stricter:
    * `FileContext.open(path)` verifies the `.crc` sidecar, which stock
    * Hadoop skips there, so a flipped byte in an offset, commit or
    * sink-log file throws `ChecksumException` instead of reading back,
    * and one in a state file throws it before Spark's own check.
    * Without this, the service loader resolves the `file:` `FileSystem`
    * to Hive's ProxyLocalFileSystem (hive-exec is in Spark's jars):
    * Hadoop's `LocalFileSystem` whose `rename` returns false onto an
    * existing file instead of replacing it. The engine renames only
    * directories through that API (`Sinks.writeDim`). Hadoop's
    * `FileSystem` cache is keyed without the conf, so this must be set
    * before the JVM first obtains a `file:` file system. */
  private def withLocalFs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[ForkFreeLocalFs].getName)

  /** Compiles each generated class once per JVM: session artifact
    * isolation off, and room for 1,000 compiled classes instead of
    * Spark's 100.
    *
    * Why: `CodeGenerator.compile` caches a class under the pair (thread
    * context class loader, source code). Every streaming query start runs
    * on `sparkSession.cloneSession()`, a session with a new UUID, and so
    * does every `spark.newSession()`. With artifact isolation on (Spark
    * 4's default) the executor builds one class loader per session UUID,
    * so every drain of every warehouse layer recompiled all the
    * executor-side classes it had compiled before, its sibling tasks
    * waiting on the compile's lock. And one pipeline round's working set,
    * about 300 (loader, code) pairs, outgrows a 100-entry LRU, so
    * driver-side classes were evicted between drains as well; 1,000 leaves
    * room over it. Neither setting alone is enough: a perfbench pipeline
    * round (seed 1, 4-vCPU VM) compiled 508 classes in 7.9 s of Janino
    * time before, 485 with isolation off only, 371 with the larger cache
    * only, and 55 in 0.5 s with both: first compiles, and classes whose
    * code embeds a per-batch watermark literal.
    *
    * What stays identical: plans, results, counts and the generated code;
    * only whether a class is compiled again changes. A jar or class added
    * with `addArtifact` would now be visible to every session, not only
    * to the one that added it; the engine adds none.
    * `spark.sql.codegen.cache.maxEntries` is a static conf, read when the
    * JVM's first session starts. */
  private def withCodegenReuse(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** The engine's conf under `local()` and `production()`: the shared
    * block (`recipe`), AQE, UTC, nanos-as-long parquet and zstd. */
  private def base(b: SparkSession.Builder): SparkSession.Builder =
    recipe(b)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet (events table) reads as long; Tables.events
      // truncates ns→µs. Set here once so table loaders stay side-effect-free
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
}
