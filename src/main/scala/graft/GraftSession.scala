package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Bolson tunes its pipeline through thread counts and buffer capacities
  * (reference: src/bolson/cli.cpp:40-120); the Spark-native equivalents are
  * the confs below — AQE for runtime re-planning, a shuffle partition count
  * matched to the local core count (a real cluster would size this to
  * executors × cores), and skew-join handling on by default.
  *
  * Three settings exist for what the engine costs around the tasks, not in
  * them:
  *  - `spark.sql.artifact.isolation.enabled=false` gives every query's
  *    tasks one class loader. Spark runs each streaming query in a clone
  *    of the session, and each clone gets a fresh artifact UUID and, with
  *    it, a fresh executor class loader. Spark's codegen cache is keyed on
  *    (class loader, code), so under isolation every new query recompiles
  *    the classes an earlier query of the JVM already compiled, and the
  *    JIT warms them from scratch. graft adds no session artifacts (jars,
  *    files, REPL classes), so there is nothing to isolate.
  *  - `fs.file.impl` is [[NioLocalFileSystem]]: without Hadoop's native
  *    library its local file system sets permissions by starting `chmod`,
  *    once per directory, part file and checksum of every write.
  *  - [[start]] makes the driver plan on the task class loader in local
  *    mode. The driver compiles each whole-stage class under its thread's
  *    context class loader, and the local executor's tasks compile the
  *    same code again under their own loader; with one loader on both
  *    sides the tasks hit the driver's cache entry. Threads the session
  *    thread starts later (stream execution, AQE and broadcast pools)
  *    inherit the loader. A cluster's executors run in other JVMs and
  *    keep their own.
  */
object GraftSession {

  def builder(master: String = defaultMaster,
              // r20: SPARK_GRAFT_SHUFFLE_PARTITIONS decouples the
              // partition count from the thread count — the sf1.0 spill
              // lever: the 139M-row pair-surface sorts spill at 16g heap
              // with 32 partitions (≈0.5 GiB of rows per task sort);
              // 4× the partitions quarters the per-task sort. On a real
              // cluster this is executors × cores × a spill headroom
              // factor, exactly the knob a site tunes first.
              shufflePartitions: Int = defaultPartitions)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // the codegen CLASS cache defaults to 100 entries — a long-lived
      // JVM serving many distinct plans (a production executor, or Bench's
      // 65-query pass-interleaved suite) evicts and Janino-recompiles
      // constantly; size it to hold the whole working set (static conf,
      // must be set before the first session)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // r19: the sf1.0 heap cliff (§8p caveat) — Tungsten sizes task
      // memory pages from heap/cores, so a 32-thread local JVM driving
      // 139M-row pair sorts and no-partition window evals reached
      // multi-GiB single allocations and OOM'd the 8g default heap.
      // Capping the page size makes the big consumers acquire memory in
      // grants the UnifiedMemoryManager can actually arbitrate — sorts
      // SPILL under pressure instead of dying. On a real cluster the
      // same cap keeps executor sizing linear in partition count rather
      // than hostage to the largest single sort.
      .config("spark.buffer.pageSize", "16m")
      .config("spark.ui.enabled", "false")
      // streaming checkpoint logs on local paths through java.nio: no
      // chmod/readlink child process per micro-batch log write
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      // one class loader per JVM, so a query reuses the generated classes
      // of an earlier query with the same plan (see above)
      .config("spark.sql.artifact.isolation.enabled", "false")
      // local file writes set permissions through java.nio, not chmod
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  def get(): SparkSession = start()

  /** The session every graft entry point (CLI verbs, `Verify`, `Bench`,
    * specs) runs on: [[builder]]'s session at `logLevel`, with the calling
    * thread planning on the task class loader in local mode (see above). */
  def start(master: String = defaultMaster, shufflePartitions: Int = defaultPartitions,
            logLevel: String = "WARN"): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    if (spark.sparkContext.isLocal)
      Thread.currentThread.setContextClassLoader(taskLoader(spark.sparkContext))
    spark
  }

  private def defaultMaster = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"

  private def defaultPartitions =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).toInt

  // the context class loader of a task of `sc`, read once per SparkContext
  // by a one-task job (local executors share the driver's JVM)
  private var taskLoaderOf: Option[(SparkContext, ClassLoader)] = None
  private val seenLoader = new java.util.concurrent.atomic.AtomicReference[ClassLoader]()

  private def taskLoader(sc: SparkContext): ClassLoader = synchronized {
    taskLoaderOf.collect { case (c, l) if c eq sc => l }.getOrElse {
      sc.runJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) =>
        seenLoader.set(Thread.currentThread.getContextClassLoader))
      taskLoaderOf = Some(sc -> seenLoader.get)
      seenLoader.get
    }
  }

  /** Per-JVM scratch directory under java.io.tmpdir, cleared on each call.
    * The PID suffix keeps concurrent JVMs (driver bench + verify) from
    * racing on one shared path; within a JVM repeated runs reuse (and
    * clear) the same dir instead of leaking one dataset per invocation.
    * Every dir is registered for removal on JVM exit, so repeated
    * bench/verify JVMs don't accumulate scratch datasets in /tmp. */
  def scratchDir(name: String): java.io.File = {
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-$name-${ProcessHandle.current().pid()}")
    if (f.isDirectory) f.listFiles().foreach(deleteRecursive)
    else if (f.exists()) f.delete() // a regular file squatting on the path
    f.mkdirs()
    registerCleanup(f)
    f
  }

  // ONE shutdown hook draining a registry — a hook THREAD per path would
  // accumulate for the JVM lifetime under per-call-unique scratch names
  // (checkpointLabels, trainCodebook runs)
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupRegistered.forEach(p => deleteRecursive(new java.io.File(p)))))
    ()
  }
  private[graft] def registerCleanup(f: java.io.File): Unit =
    if (cleanupRegistered.add(f.getAbsolutePath)) cleanupHook

  private[graft] def deleteRecursive(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursive)
    f.delete()
  }
}
