package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** All DATA-file I/O outside the write job itself goes through
  * `org.apache.hadoop.fs.FileSystem`, so the engine runs unchanged against
  * `file:`, `hdfs:`, `s3a:`, `gs:` table roots (the META layer already has
  * `ObjectStoreMetaStore` for the same reason). Per-file operations that can
  * grow with table size (existence sweeps, orphan deletes) run distributed;
  * the driver only ever touches metadata-scale lists.
  */
object GraftFs {

  def conf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** `hconf` shipped to executors once, as a broadcast (Spark's own
    * `ParquetFileFormat` idiom). Task closures and reader factories carry
    * the small handle: a `SerializableConfiguration` captured directly
    * re-serializes the whole conf (about 34 KB) into every task, and each
    * task pays tens of milliseconds to deserialize it. */
  def broadcastConf(spark: SparkSession, hconf: Configuration)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(hconf))

  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    broadcastConf(spark, conf(spark))

  def fs(path: String, hadoopConf: Configuration): FileSystem =
    new Path(path).getFileSystem(hadoopConf)

  /** Delete `path` (file or directory tree). */
  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = p.getFileSystem(conf(spark))
    f.delete(p, true)
  }

  /** Which of `relPaths` (relative to `root`) do NOT exist? Driver-side for
    * small sets; one distributed existence sweep otherwise — a restore of a
    * manifest with 100k files must not serialize 100k round-trips on the
    * driver. Order of the result follows `relPaths`. */
  def missing(
      spark: SparkSession, root: String, relPaths: Seq[String]): Seq[String] = {
    if (relPaths.isEmpty) return Nil
    val hconf = conf(spark)
    if (relPaths.length <= 128) {
      val f = fs(root, hconf)
      relPaths.filterNot(rel => f.exists(new Path(root, rel)))
    } else {
      val confB = broadcastConf(spark, hconf)
      val missingSet = spark.sparkContext
        .parallelize(relPaths, math.min(64, 1 + relPaths.length / 256))
        .mapPartitions { it =>
          val paths = it.toSeq
          if (paths.isEmpty) Iterator.empty
          else {
            val f = new Path(root).getFileSystem(confB.value.value)
            paths.iterator.filterNot(rel => f.exists(new Path(root, rel)))
          }
        }
        .collect().toSet
      relPaths.filter(missingSet.contains)
    }
  }
}
