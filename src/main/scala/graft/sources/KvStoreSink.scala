package graft.sources

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.sinks.Sinks
import graft.util.Fs

/** DataSource V2 WRITE path — the sink half of the reference's ETL
  * (persist the pulled batch to the store, `git_etl.ts:127-132`),
  * expressed as Spark's two-phase commit protocol:
  *
  *  - each TASK ATTEMPT stages its rows to a uniquely-named file under
  *    `<path>/.staging/` ([[KvDataWriter]]) — unique per (partition,
  *    task attempt), so speculative or retried attempts can never
  *    clobber each other;
  *  - a successful attempt's `commit()` returns the staged file name as
  *    its [[WriterCommitMessage]]; a failed/losing attempt's `abort()`
  *    deletes its own file;
  *  - the DRIVER publishes in [[KvBatchWrite.commit]]: exactly the files
  *    named by the arriving messages move into the live dir, then a
  *    manifest listing them commits as a fresh version via temp-write +
  *    non-overwriting rename (`Sinks.commitManifest`). Readers resolve
  *    the store THROUGH the manifest ([[KvStoreSink.committedFiles]]),
  *    so a crashed job (no manifest commit) or a losing speculative
  *    attempt (file never published) is invisible —
  *    the all-or-nothing batch visibility the reference's row-at-a-time
  *    writes cannot give.
  *
  * Rows are (k BIGINT, v STRING, cents BIGINT) serialized as JSON lines,
  * so the committed store reads back with Spark's JSON reader over the
  * manifest's file list. `SupportsTruncate` makes overwrite mode an
  * atomic replace (truncate happens inside the same driver-side commit,
  * before the new files publish).
  */
class KvStoreSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KvStoreSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KvStoreTable(properties.get("path"))
}

object KvStoreSink {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("cents", LongType)))

  /** Absolute paths of the committed data files — resolved through the
    * manifest, never by listing the directory (staged or orphaned files
    * are invisible by construction). */
  def committedFiles(path: String): Seq[String] =
    Sinks.readManifest(path).toSeq.flatMap(m => manifestNames(m._2))
      .map(f => s"$path/$f")

  private[sources] def manifestNames(text: String): Seq[String] =
    text.split("\n").filter(_.nonEmpty).toIndexedSeq
}

class KvStoreTable(path: String) extends Table with SupportsWrite {
  override def name(): String = s"kvstore($path)"
  override def schema(): StructType = KvStoreSink.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new KvWriteBuilder(path, info.schema(), info.queryId(), truncate = false)
}

class KvWriteBuilder(path: String, schema: StructType, queryId: String,
                     truncate: Boolean)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder =
    new KvWriteBuilder(path, schema, queryId, truncate = true)
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new KvBatchWrite(path, schema, queryId, truncate)
  }
}

case class KvCommitMessage(fileName: String, rows: Long) extends WriterCommitMessage

class KvBatchWrite(path: String, schema: StructType, queryId: String,
                   truncate: Boolean)
    extends BatchWrite {
  require(schema.fields.map(f => (f.name, f.dataType)).sameElements(
    KvStoreSink.schema.fields.map(f => (f.name, f.dataType))),
    s"kvstore expects (k BIGINT, v STRING, cents BIGINT), got $schema")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Fs.mkdirs(s"$path/.staging")
    new KvWriterFactory(path, queryId, new SerializableConfiguration(Fs.conf))
  }

  /** Driver-side publish: move exactly the committed attempts' files
    * live, then commit the next manifest version. That commit is the
    * commit point — a crash anywhere before it leaves only invisible
    * staged/live-but-unlisted files. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val names = messages.collect { case m: KvCommitMessage => m.fileName }
    names.foreach(f => Fs.replace(s"$path/.staging/$f", s"$path/$f"))
    val (v, priorText) = Sinks.readManifest(path).getOrElse((-1L, ""))
    val prior = if (truncate) Nil else KvStoreSink.manifestNames(priorText)
    Sinks.commitManifest(path, v + 1, (prior ++ names).mkString("\n"))
    Fs.delete(s"$path/.staging")
  }

  /** Job-level abort: every staged attempt file dies; the manifest (and
    * therefore the readable store) is untouched. */
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    Fs.delete(s"$path/.staging")
}

/** Ships the driver's Hadoop conf to the executors, which have no
  * session to resolve it from. */
class KvWriterFactory(path: String, queryId: String, conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KvDataWriter(path, queryId, partitionId, taskId, conf)
}

/** One task attempt's writer: rows stream to a file named by (query id,
  * partition, task attempt). taskId alone is only unique within one
  * SparkContext — a restarted JVM's counter resets to 0, and an append
  * from the new app would clobber run 1's committed `part-0-0` AND list
  * it twice in the manifest. The write's queryId (a UUID) scopes the name
  * globally. The file only becomes eligible for publishing via this
  * attempt's commit message. */
class KvDataWriter(path: String, queryId: String, partitionId: Int, taskId: Long,
                   conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  private val fileName = s"part-$queryId-$partitionId-$taskId.jsonl"
  private val staged = s"$path/.staging/$fileName"
  private val out = new BufferedWriter(
    new OutputStreamWriter(Fs.create(staged, conf.value), UTF_8))
  private var rows = 0L

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  override def write(row: InternalRow): Unit = {
    // every field null-checked: getLong on a null slot returns 0, which
    // would silently turn a NULL into a countable value on read-back
    val k = if (row.isNullAt(0)) "null" else row.getLong(0).toString
    val v = if (row.isNullAt(1)) "null" else "\"" + esc(row.getUTF8String(1).toString) + "\""
    val cents = if (row.isNullAt(2)) "null" else row.getLong(2).toString
    out.write(s"""{"k":$k,"v":$v,"cents":$cents}""")
    out.newLine()
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    KvCommitMessage(fileName, rows)
  }

  override def abort(): Unit = {
    out.close()
    Fs.delete(staged, conf.value)
  }

  override def close(): Unit = ()
}
