package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Tracked scratch directories for queries that materialize scratch data
  * (staged sinks, compaction rewrites, stream checkpoints, embedded Derby
  * databases), in two kinds:
  *
  *   - DRIVER-LOCAL (`create(prefix)`): a `java.io.tmpdir` dir,
  *     right for embedded Derby and other genuinely driver-side scratch.
  *   - SPARK-VISIBLE (`create(spark, prefix)`): a dir under [[root]], for
  *     queries whose executors write files the driver (or a later stage)
  *     reads back — report sinks, staged loads.
  *     The root is a deploy-time setting: `spark.graft.scratch.dir` if set
  *     (on a real cluster a shared URI every executor and the driver can
  *     reach), else the first `spark.local.dir` entry, else
  *     `java.io.tmpdir` (equivalent in local mode). An executor-written,
  *     driver-read sink under a per-node tmpdir would only ever coincide
  *     in local mode.
  *
  * Many declared queries RETURN a lazily-evaluated frame that still reads
  * from its scratch dir (a parquet snapshot, a JDBC table), so eager
  * deletion inside the query is wrong in general. Instead every dir is
  * registered here with the Hadoop `Configuration` that reaches it, and
  * one JVM shutdown hook deletes them all through Hadoop's `FileSystem` —
  * repeated verify/bench runs do not accumulate disk. Queries whose
  * scratch is provably dead before return (e.g. compact_files, whose
  * output is built from driver-side literals) delete eagerly via
  * [[delete]].
  */
object TempDirs {

  private val registry = new ConcurrentHashMap[String, Configuration]()

  /** The one conf every driver-local entry shares. It loads no site
    * files, so its default filesystem is always the local one, whatever
    * `fs.defaultFS` a cluster deployment puts on the classpath.
    */
  private lazy val localConf = new Configuration(false)

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    // Embedded Derby holds db.lck + open file handles until the ENGINE is
    // shut down, so deleting a live database dir silently leaves the lock
    // and data files behind and repeated runs leak scratch. Shut the whole
    // engine down first; Derby signals a successful full shutdown by
    // THROWING SQLException XJ015.
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: Throwable => () }
    registry.forEach((dir, conf) => remove(dir, conf))
  }, "graft-tempdir-cleanup"))

  /** Create a driver-local temp directory deleted on JVM exit. */
  def create(prefix: String): String =
    register(java.nio.file.Files.createTempDirectory(prefix).toString, localConf)

  /** The configured Spark-visible scratch root for this session. */
  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratch.dir")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir")
        .map(_.split(",").head))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Create a Spark-visible scratch dir under [[root]], deleted on JVM exit. */
  def create(spark: SparkSession, prefix: String): String = {
    val dir = s"${root(spark).stripSuffix("/")}/$prefix-${java.util.UUID.randomUUID()}"
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new HPath(dir)
    p.getFileSystem(conf).mkdirs(p)
    register(dir, conf)
  }

  /** Eagerly delete and unregister a directory created by either `create`. */
  def delete(dir: String): Unit =
    remove(dir, Option(registry.remove(dir)).getOrElse(localConf))

  /** Whether `dir` is registered for deletion at JVM exit. */
  private[graft] def tracked(dir: String): Boolean = registry.containsKey(dir)

  private def register(dir: String, conf: Configuration): String = {
    registry.put(dir, conf)
    dir
  }

  private def remove(dir: String, conf: Configuration): Unit =
    try {
      val p = new HPath(dir)
      p.getFileSystem(conf).delete(p, true)
    } catch { case _: Throwable => () }
}
