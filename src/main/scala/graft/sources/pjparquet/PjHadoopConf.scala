package graft.sources.pjparquet

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.PjSparkShims
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The one way pjparquet ships the session's Hadoop conf to executors.
  *
  * Serializing a session conf (~1,100 entries; `Configuration.write`
  * compresses every source string) costs 10–15 ms of driver time per
  * broadcast, more than all the tasks of a short read. So the driver keeps
  * ONE broadcast of `sessionState.newHadoopConf()` per session, and every
  * read, write or job adds only the keys it sets itself, as a small
  * overlay map carried in its factory or closure ([[PjShippedConf]]).
  *
  *  - The base is reused while a fresh `newHadoopConf()` is entry-for-entry
  *    equal to the snapshot it was broadcast from (same size, same raw
  *    value for every key). Any difference — `spark.conf.set` of a Hadoop
  *    key, an in-place `sc.hadoopConfiguration` edit — re-broadcasts. Cost
  *    per call: one `newHadoopConf()` copy and one pass over its entries.
  *  - A superseded base is never destroyed here: a running job may still
  *    read it, and Spark's ContextCleaner drops it once unreferenced.
  */
object PjHadoopConf {

  private final class Base(
      val sc: SparkContext,
      val entries: java.util.Map[String, String],
      val broadcast: Broadcast[SerializableConfiguration])

  /** Session → its current base; sessions are held weakly. */
  private val bases = new java.util.WeakHashMap[SparkSession, Base]()

  /** Observability/spec counter: base broadcasts made. */
  private[sources] val broadcasts = new AtomicLong

  /** The session conf alone. */
  def ship(spark: SparkSession): PjShippedConf =
    PjShippedConf(baseOf(spark).broadcast, Map.empty)

  /** The session conf plus the keys `overlay` sets. */
  def shipWith(spark: SparkSession)(overlay: Configuration => Unit): PjShippedConf = {
    val base = baseOf(spark)
    val capture = new Configuration(false) {
      // `setIfUnset` must see the session's value, as on a full copy
      override def get(name: String): String = {
        val v = super.get(name)
        if (v != null) v else base.entries.get(name)
      }
    }
    overlay(capture)
    val keys = Map.newBuilder[String, String]
    capture.iterator().forEachRemaining(e => keys += e.getKey -> e.getValue)
    PjShippedConf(base.broadcast, keys.result())
  }

  /** The conf of a parquet write of `dataSchema`: Spark's write keys and,
    * for an id column-mapping table, the field-id write flag — set AFTER
    * `configureWriteConf`, which copies the session value (default true):
    * a session-level false must not strip ids from an id-mode table's files.
    */
  def forWrite(spark: SparkSession, dataSchema: StructType, fieldIds: Boolean): PjShippedConf =
    shipWith(spark) { c =>
      PjSparkShims.configureWriteConf(c, dataSchema, spark.sessionState.conf)
      if (fieldIds) c.setBoolean("spark.sql.parquet.fieldId.write.enabled", true)
    }

  private def baseOf(spark: SparkSession): Base = {
    val fresh = spark.sessionState.newHadoopConf()
    bases.synchronized {
      val current = bases.get(spark)
      if (current != null && (current.sc eq spark.sparkContext) &&
          sameEntries(fresh, current.entries)) current
      else {
        val entries = new java.util.HashMap[String, String]()
        fresh.iterator().forEachRemaining(e => entries.put(e.getKey, e.getValue))
        val b = new Base(spark.sparkContext, entries,
          spark.sparkContext.broadcast(new SerializableConfiguration(fresh)))
        broadcasts.incrementAndGet()
        bases.put(spark, b)
        b
      }
    }
  }

  private def sameEntries(conf: Configuration, entries: java.util.Map[String, String]): Boolean = {
    var n = 0
    val it = conf.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (entries.get(e.getKey) != e.getValue) return false
      n += 1
    }
    n == entries.size
  }
}

/** A Hadoop conf on its way to executors: the session's base broadcast
  * plus the keys one read, write or job sets itself ([[PjHadoopConf]]).
  */
final case class PjShippedConf(
    base: Broadcast[SerializableConfiguration],
    overlay: Map[String, String]) {

  /** A fresh conf, base + overlay. Factories derive it once per task (a
    * `@transient lazy val`), job closures once per partition or per
    * deletion-vector cache miss, and no conf is shared across tasks:
    * writers may mutate theirs.
    */
  def newConf(): Configuration = {
    val c = new Configuration(base.value.value)
    overlay.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
