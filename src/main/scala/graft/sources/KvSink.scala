package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Generic KV upsert sink — the Spark-native form of the reference's KV
 * writer family:
 *
 *  - memcached writeModes set/add/replace/append/prepend with key =
 *    separator-joined index columns and value = joined fields (reference:
 *    ocswriter/.../OcsWriter.java:64-140);
 *  - MongoDB bulk `ReplaceOneModel(filter, doc, upsert=true)` == [[Set]]
 *    mode (reference: mongodbwriter/.../MongoDBWriter.java:297-306);
 *  - HBase Put with configurable rowkey concat (reference:
 *    hbase11xwriter/.../NormalTask.java:31-100) == [[Set]] with a rowkey
 *    built from the key columns.
 *
 * The store is behind [[KvClient]], one client per partition through
 * [[SinkPartitions]], writes streamed; tests exercise the write-mode
 * semantics against an in-memory store.
 */
object KvSink {

  /** Minimal client surface a partition needs (subset of memcached ops). */
  trait KvClient extends AutoCloseable {
    def get(key: String): Option[String]
    def put(key: String, value: String): Unit
  }

  sealed trait KvWriteMode
  /** Unconditional upsert (memcached set; Mongo ReplaceOne upsert). */
  case object Set extends KvWriteMode
  /** Insert only when absent (memcached add). */
  case object Add extends KvWriteMode
  /** Overwrite only when present (memcached replace). */
  case object ReplaceExisting extends KvWriteMode
  /** Concatenate after the existing value (memcached append); missing key
    * behaves like set. */
  case object Append extends KvWriteMode
  /** Concatenate before the existing value (memcached prepend). */
  case object Prepend extends KvWriteMode

  def parseMode(s: String): KvWriteMode = s.toLowerCase match {
    case "set" => Set
    case "add" => Add
    case "replace" => ReplaceExisting
    case "append" => Append
    case "prepend" => Prepend
    case other => throw new IllegalArgumentException(s"kv writeMode '$other'")
  }

  /** Apply one row under the mode; returns true if the store was written. */
  private[sources] def apply1(c: KvClient, mode: KvWriteMode, k: String, v: String): Boolean =
    mode match {
      case Set => c.put(k, v); true
      case Add => if (c.get(k).isEmpty) { c.put(k, v); true } else false
      case ReplaceExisting => if (c.get(k).isDefined) { c.put(k, v); true } else false
      case Append => c.put(k, c.get(k).getOrElse("") + v); true
      case Prepend => c.put(k, v + c.get(k).getOrElse("")); true
    }

  /** Wire-free in-memory KV store (named, JVM-wide) — the sandbox stand-in
    * for memcached/OTS/HBase endpoints, used by the oracle-gated mode query
    * and the specs. Local-mode executors are threads of this JVM, so a
    * `client(name)` closure works from `write`'s partitions. */
  object InMemoryKvStore {
    private val stores = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.ConcurrentHashMap[String, String]]()
    def store(name: String): java.util.concurrent.ConcurrentHashMap[String, String] =
      stores.computeIfAbsent(name,
        _ => new java.util.concurrent.ConcurrentHashMap[String, String]())
    def client(name: String): KvClient = new KvClient {
      private val m = store(name)
      override def get(key: String): Option[String] = Option(m.get(key))
      override def put(key: String, value: String): Unit = m.put(key, value): Unit
      override def close(): Unit = ()
    }
    def clear(name: String): Unit = stores.remove(name): Unit
  }

  /**
   * Distributed KV write: key = `keySep`-joined key columns, value =
   * `valueSep`-joined remaining (or given) columns — exactly the reference's
   * index-column/value-column layout. Returns (rowsWritten, rowsSkipped)
   * where skipped = add-on-existing / replace-on-missing no-ops.
   */
  def write(df: DataFrame, keyCols: Seq[String], valueCols: Seq[String],
      mode: KvWriteMode, clientFactory: () => KvClient,
      keySep: String = "-", valueSep: String = ""): (Long, Long) = {
    require(keyCols.nonEmpty, "keyCols must not be empty")
    val prepared = df.select(
      concat_ws(keySep, keyCols.map(c => col(c).cast("string")): _*).as("__k"),
      concat_ws(valueSep, valueCols.map(c => col(c).cast("string")): _*).as("__v"))
    SinkPartitions.counts(prepared, clientFactory) { (c, rows) =>
      var written = 0L
      var skipped = 0L
      rows.foreach { r =>
        if (apply1(c, mode, r.getString(0), r.getString(1))) written += 1
        else skipped += 1
      }
      (written, skipped)
    }
  }
}
