package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session factory. Every entry point (Bench, Verify, Smoke,
 * Explain, the scale checks, the extractor app, the spec suite) builds
 * its session here and adds only what is its own on top.
 *
 * What the factory sets, and why:
 *
 *  - `local[cores]` with `shuffle.partitions` = cores (cluster: 2-3×
 *    total executor cores; AQE coalesces down at runtime);
 *  - UTC session time zone (oracle parity and sane event-time math);
 *  - [[graft.functions.GraftExtensions]] registered so the custom
 *    expressions are SQL-callable;
 *  - no UI.
 *
 * AQE (skew-join handling, partition coalescing) and the 128 MB
 * `files.maxPartitionBytes` scan split are Spark 4 defaults and are
 * relied on, not restated.
 *
 * The rest fixes measured infrastructure floors (r15 thread-dump
 * evidence, synthetic 466k-row repartition on local[32] as the probe):
 *
 *  - `spark.local.dir` → tmpfs when available. Shuffle-file CREATION
 *    on the sandbox's ext4 /tmp costs ~360 µs/open single-threaded
 *    and serializes under 32 writers (stack samples: every runnable
 *    executor thread in `FileOutputStream.open0`); tmpfs opens are
 *    9 µs. Probe: 9.5 → 0.9 process-CPU-s per shuffle. On a cluster
 *    this is the standard "local dirs on fast scratch" deployment
 *    setting; set SPARK_GRAFT_LOCAL_DIR to the node-local NVMe array
 *    there — tmpfs is only right where shuffle spill is far below
 *    RAM, as at bench scale.
 *
 *  - `spark.file.transferTo=false`. The shuffle-merge fast path
 *    copies spill files with FileChannel.transferTo, which mmaps and
 *    munmaps per partition chunk; 32 concurrent tasks × 32 chunks of
 *    tiny files = a storm of munmap TLB-shootdown IPIs that burns a
 *    fixed ~0.27 CPU-s per task and serializes across vCPUs (stack
 *    samples: `FileChannelImpl.map0/unmap0`). A plain buffered copy
 *    has none of that at small chunk sizes. With multi-hundred-MB
 *    partitions the zero-copy path wins instead — such deployments
 *    set it through spark-submit, not this local-mode factory.
 *
 *  - `spark.sql.codegen.cache.maxEntries=4096` (static conf, Spark
 *    default 100). ~280 registered queries × dozens of codegen units
 *    thrash a 100-entry cache: every eviction re-runs Janino on the
 *    single query thread and re-JITs byte-identical classes.
 *    Measured: per-rep JIT delta 16.8 → 3.9 s on the heaviest
 *    composed flagship; 6-query subset total 34.8 → 14.8 s. Any
 *    long-lived session serving many distinct plans wants this.
 *
 * Env settings read here (and nowhere else):
 *
 *  - `SPARK_GRAFT_CPUS`: task slots and shuffle partitions of the
 *    default session; default nproc.
 *  - `SPARK_GRAFT_LOCAL_DIR`: base of `spark.local.dir`; default
 *    `/dev/shm/graft-spark` when /dev/shm is writable, else the JVM
 *    tmpdir.
 */
object GraftSession {

  /** Task slots of the default session: SPARK_GRAFT_CPUS, else nproc. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local-mode scratch for shuffle/spill files: SPARK_GRAFT_LOCAL_DIR
    * if set, else tmpfs (/dev/shm) when writable, else the JVM tmpdir.
    * Spark creates per-app `spark-<uuid>` subdirs and removes them on
    * normal shutdown, so concurrent runs coexist under one base. */
  private def localDir: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty).getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark"
      else System.getProperty("java.io.tmpdir", "/tmp")
    }

  /** The session conf the factory applies for `cores` task slots. */
  def settings(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.local.dir" -> localDir,
    "spark.file.transferTo" -> "false")

  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder().master(s"local[$cores]").appName("graft")
      .config(settings(cores))

  def local(cores: Int = defaultCores): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
