package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import org.apache.commons.codec.binary.Hex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst sees a real
  * file scan: filters and column pruning from downstream operators are
  * pushed into the parquet reader (visible as PushedFilters/ReadSchema
  * in `.explain("formatted")`). At 100 TB these tables would be
  * partitioned directories; the loader API is unchanged.
  *
  * Schema contract: [[read]] infers a path's schema once per process
  * and serves every later read as `spark.read.schema(cached).parquet`.
  * Inference is a one-task footer-read Spark job; a read with a given
  * schema runs no job and plans the same scan, pruning and pushdown.
  * A cached schema is served only while both of these still match the
  * values it was inferred under:
  *   - the stamp: the (name, length, mtime) of every file at the path
  *     (the file itself, or every file under a table directory);
  *   - every session conf whose name contains `parquet` (for example
  *     `spark.sql.legacy.parquet.nanosAsLong`), since those change the
  *     inferred types.
  * Any mismatch re-infers, so a rewritten table is never served a
  * stale schema. There is no knob to turn the cache off.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(stamp: String, schema: StructType)

  /** (path, parquet confs) → schema with the stamp it was read under. */
  private val schemas = new ConcurrentHashMap[(String, Map[String, String]), Inferred]()

  /** Read the parquet table at `path`, inferring its schema only when
    * no cached schema matches the current stamp and parquet confs.
    * Like [[Materialized]], no Spark job runs inside a map update:
    * inference happens outside the map and the result is `put`; two
    * racing readers may both infer, which is harmless.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    stamp(spark, path) match {
      // missing path: let Spark raise its own PATH_NOT_FOUND
      case None => spark.read.parquet(path)
      case Some(st) =>
        val key = (path, spark.conf.getAll.filter(_._1.toLowerCase.contains("parquet")))
        val hit = schemas.get(key)
        if (hit != null && hit.stamp == st) spark.read.schema(hit.schema).parquet(path)
        else {
          val df = spark.read.parquet(path)
          schemas.put(key, Inferred(st, df.schema))
          df
        }
    }

  /** Digest of one recursive listing of `path`: the sorted (name,
    * length, mtime) of every file. A digest, not the listing, so a
    * million-file table pins a few bytes, not the listing, per entry.
    * None when the path does not exist.
    */
  private def stamp(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = fs.listFiles(p, true)
      val entries = Vector.newBuilder[String]
      while (files.hasNext) {
        val f = files.next()
        entries += s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
      }
      val md = MessageDigest.getInstance("SHA-256")
      entries.result().sorted.foreach(e => md.update(e.getBytes(StandardCharsets.UTF_8)))
      Some(Hex.encodeHexString(md.digest()))
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = {
    // events.parquet stores TIMESTAMP(NANOS); Spark 4 rejects it
    // unless nanos are read as Long. GraftSession sets this globally;
    // set it here too (runtime-settable) so sessions built elsewhere
    // can still read the table. EventOps handles the Long form.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(spark, dir, "events")
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
