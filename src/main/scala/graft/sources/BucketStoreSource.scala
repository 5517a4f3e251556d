package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type => PType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.util.Fs

/** DataSource V2 reader over a graft bucket store (`Sinks.mergeByKeyBucket`
  * layout: parquet part files under `<path>/_bucket=<i>/` +
  * `_graft_buckets` metadata)
  * that reports its physical layout to the planner as a
  * [[KeyGroupedPartitioning]] — Spark 4's STORAGE-PARTITIONED JOIN (SPJ,
  * SPARK-37375) contract. Each bucket directory becomes exactly one
  * [[InputPartition]] carrying its bucket id as the partition key
  * ([[HasPartitionKey]]), so under
  * `spark.sql.sources.v2.bucketing.enabled` a join between two stores
  * bucketed the same way (same key-hash, same bucket count — the store
  * layout `pmod(key, n)` is deterministic by construction) is planned
  * with ZERO shuffle exchanges on either side: partition i joins
  * partition i. This is the 100 TB story for store-store joins — two
  * 100 TB index stores co-bucketed at write time join at read time
  * without moving a single row across the network, the DSv2-native
  * analog of the Hive-bucketed `q_bucketed_join` demo.
  *
  * The same reported partitioning also satisfies a following
  * `GROUP BY _bucket` aggregation's clustering requirement, so
  * join + per-bucket aggregate runs shuffle-free end to end
  * (plan-asserted in `SpjSpec`; oracle entry `q_dsv2_spj_join`).
  *
  * Reading uses parquet-hadoop's `GroupReadSupport` (the library Spark
  * itself ships) with the projection pushed via
  * `ReadSupport.PARQUET_READ_SCHEMA`, so column pruning reaches the
  * parquet column chunks — `SupportsPushDownRequiredColumns` keeps
  * `_bucket` in the read schema unconditionally because the reported
  * partitioning references it (it costs nothing: the value is injected
  * from the partition, never read from the file).
  *
  * Supported column types are the store-layout primitives (long, int,
  * double, float, boolean, string); anything else fails loudly at schema
  * inference rather than mis-reading bytes.
  *
  * Usage: `spark.read.format("graft.sources.BucketStoreSource")
  *   .option("path", storeDir).load()`.
  */
class BucketStoreSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BucketStoreSource.storeSchema(BucketStoreSource.pathOf(options.asScala.toMap))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BucketStoreTable(BucketStoreSource.pathOf(properties.asScala.toMap))
}

object BucketStoreSource {
  private[sources] def pathOf(props: Map[String, String]): String =
    props.getOrElse("path",
      throw new IllegalArgumentException("BucketStoreSource requires option 'path'"))

  /** One partition per non-empty bucket directory, bucket-id ascending;
    * file sizes come from the same listing. Underscore/dot-prefixed files
    * (parquet `_SUCCESS`, checksums; the MoR delete sidecar lives at store
    * level and never matches `_bucket=`) are skipped the same way Spark's
    * own file index hides them. */
  private[sources] def bucketDirs(path: String): Seq[BucketStorePartition] = {
    require(Fs.isDirectory(path), s"no bucket store at $path")
    Fs.list(path)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("_bucket="))
      .flatMap { d =>
        val files = Fs.list(d.getPath.toString)
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
          }
          .sortBy(_.getPath.toString)
        // an emptied bucket dir contributes no partition (deleteByKeyBucket
        // drops emptied buckets entirely, so this is the crash-window case)
        if (files.isEmpty) None
        else Some(BucketStorePartition(d.getPath.getName.stripPrefix("_bucket=").toInt,
          files.map(_.getPath.toString), files.map(_.getLen).sum))
      }
      .sortBy(_.bucket)
  }

  private def firstDataFile(path: String): String =
    bucketDirs(path).headOption.flatMap(_.files.headOption)
      .getOrElse(throw new IllegalArgumentException(s"empty bucket store at $path"))

  /** Footer MessageType of one data file (all files share the writer's
    * schema) — driver-side, one footer read. */
  private[sources] def footerSchema(path: String): MessageType = {
    val in = HadoopInputFile.fromPath(new Path(firstDataFile(path)), Fs.conf)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  private def sparkTypeOf(f: PType): DataType = {
    require(f.isPrimitive, s"unsupported nested store column '${f.getName}'")
    val p = f.asPrimitiveType()
    val logical = p.getLogicalTypeAnnotation
    p.getPrimitiveTypeName match {
      case INT64 if logical == null ||
        logical == LogicalTypeAnnotation.intType(64, true) => LongType
      case INT32 if logical == null ||
        logical == LogicalTypeAnnotation.intType(32, true) => IntegerType
      case DOUBLE => DoubleType
      case FLOAT => FloatType
      case BOOLEAN => BooleanType
      case BINARY if logical == LogicalTypeAnnotation.stringType() => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported store column '${f.getName}': $other/$logical " +
          "(supported: long, int, double, float, boolean, string)")
    }
  }

  /** Data columns from the footer + the `_bucket` partition column last
    * (mirroring Spark's partition-column placement for file sources). */
  private[sources] def storeSchema(path: String): StructType = {
    val fields = footerSchema(path).getFields.asScala.map { f =>
      StructField(f.getName, sparkTypeOf(f),
        nullable = f.getRepetition != PType.Repetition.REQUIRED)
    }
    StructType(fields.toSeq :+ StructField("_bucket", IntegerType, nullable = false))
  }

  /** Projection MessageType for the requested data columns, taken from
    * the FILE's own field definitions (so repetition/annotations always
    * match what the writer produced) in requested order. */
  private[sources] def projectionOf(footer: MessageType, names: Seq[String]): MessageType =
    new MessageType(footer.getName,
      names.map(n => footer.getType(footer.getFieldIndex(n))): _*)
}

class BucketStoreTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_bucket_store($path)"
  override def schema(): StructType = BucketStoreSource.storeSchema(path)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BucketStoreScanBuilder(path)
}

class BucketStoreScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private val full = BucketStoreSource.storeSchema(path)
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // `_bucket` stays in the read schema unconditionally: the scan's
    // reported KeyGroupedPartitioning references it, and resolving that
    // reference against the scan output must always succeed. It is
    // partition metadata, not file I/O, so keeping it is free.
    required =
      if (requiredSchema.fieldNames.contains("_bucket")) requiredSchema
      else StructType(requiredSchema.fields :+ full("_bucket"))
  }

  override def build(): Scan = new BucketStoreScan(path, required)
}

/** One partition per bucket directory; the bucket id IS the partition
  * key, which is what lets Spark align partition i with partition i of
  * another store instead of shuffling both. `bytes` is the files' total
  * size, for statistics. */
case class BucketStorePartition(bucket: Int, files: Seq[String], bytes: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

class BucketStoreScan(path: String, required: StructType)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {

  private lazy val parts: Seq[BucketStorePartition] = BucketStoreSource.bucketDirs(path)

  // requested data columns (everything but the injected partition column),
  // projected from the file's own footer definitions
  private lazy val projection: MessageType = BucketStoreSource.projectionOf(
    BucketStoreSource.footerSchema(path),
    required.fieldNames.toSeq.filter(_ != "_bucket"))

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_bucket_store buckets=${parts.length} " +
      s"ReadSchema: ${required.fieldNames.mkString(",")}"

  /** The SPJ contract: key-grouped on `_bucket`, one partition per
    * reported key value. Under `spark.sql.sources.v2.bucketing.enabled`
    * EnsureRequirements recognizes two compatible instances and plans
    * the join with no exchange on either side. */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.identity("_bucket")), parts.length)

  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val bytes = parts.map(_.bytes).sum
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, bytes))
    override def numRows(): util.OptionalLong = util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = parts.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val fields = required.fields.map(f => (f.name, f.dataType))
    val projStr = projection.toString
    // executors have no session: ship the driver's Hadoop conf
    val shipped = new SerializableConfiguration(Fs.conf)
    (partition: InputPartition) => {
      val p = partition.asInstanceOf[BucketStorePartition]
      new PartitionReader[InternalRow] {
        private val conf = new Configuration(shipped.value)
        conf.set(ReadSupport.PARQUET_READ_SCHEMA, projStr)
        private var fileIdx = -1
        private var reader: ParquetReader[Group] = _
        private var row: Group = _

        private def nextFile(): Boolean = {
          if (reader != null) { reader.close(); reader = null }
          fileIdx += 1
          if (fileIdx >= p.files.length) false
          else {
            reader = ParquetReader
              .builder(new GroupReadSupport(), new Path(p.files(fileIdx)))
              .withConf(conf).build()
            true
          }
        }

        override def next(): Boolean = {
          while (true) {
            if (reader == null && !nextFile()) return false
            row = reader.read()
            if (row != null) return true
            reader.close(); reader = null
          }
          false
        }

        override def get(): InternalRow = {
          // the projected group's field order is the requested order, so
          // data columns index by a running position; `_bucket` injects
          // the partition value
          var gi = 0
          val vals = fields.map { case (name, dt) =>
            if (name == "_bucket") Integer.valueOf(p.bucket)
            else {
              val i = gi; gi += 1
              if (row.getFieldRepetitionCount(i) == 0) null
              else dt match {
                case LongType    => java.lang.Long.valueOf(row.getLong(i, 0))
                case IntegerType => Integer.valueOf(row.getInteger(i, 0))
                case DoubleType  => java.lang.Double.valueOf(row.getDouble(i, 0))
                case FloatType   => java.lang.Float.valueOf(row.getFloat(i, 0))
                case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i, 0))
                case StringType  => UTF8String.fromBytes(row.getBinary(i, 0).getBytes)
                case other => throw new IllegalStateException(s"unreachable type $other")
              }
            }
          }
          new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        }

        override def close(): Unit = if (reader != null) reader.close()
      }
    }
  }
}

/** Storage-partitioned-join demo module: two co-bucketed stores joined
  * through [[BucketStoreSource]] with zero shuffle exchanges. */
object Spj {
  import org.apache.spark.sql.functions._
  import graft.sinks.Sinks
  import graft.util.Exact.{sqlSumFix, sumFix}

  /** Run `f` with the v2-bucketing (SPJ) confs on, restoring previous
    * values after — entries share one session, so conf mutations must not
    * leak. Spark confs are read at PLAN time and plans are lazy: callers
    * must materialize inside the block (the entry writes its result to
    * parquet inside it). `requireAllClusterKeysForCoPartition=false` is
    * load-bearing: the stores report KeyGroupedPartitioning on `_bucket`
    * while the join clusters on (custkey, `_bucket`) — a SUBSET match,
    * which Spark only accepts with the strict flag off. Broadcast is
    * disabled inside the block so the planner can't sidestep the
    * exchange question by broadcasting the small side (at 100 TB neither
    * store side is broadcastable — the demo must prove the
    * sort-merge-without-exchange shape, not a small-data shortcut). */
  def withSpj[T](s: SparkSession)(f: => T): T = {
    val want = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val old = want.map { case (k, _) => k -> s.conf.getOption(k) }
    want.foreach { case (k, v) => s.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  def read(s: SparkSession, store: String): DataFrame =
    s.read.format("graft.sources.BucketStoreSource").option("path", store).load()

  /** Build the two co-bucketed stores: orders bucketed by the JOIN key
    * (`o_custkey` via `bucketCol` — clustered by the dimension FK, keyed
    * by its own PK) and customer bucketed by its PK. Same bucket count,
    * same `pmod` law → partition i holds exactly the keys partition i of
    * the other store holds. */
  def buildStores(s: SparkSession, dir: String,
                  ordStore: String, custStore: String, nBuckets: Int): Unit = {
    Sinks.truncate(ordStore); Sinks.truncate(custStore)
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val customer = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"))
    Sinks.mergeByKeyBucket(s, ordStore, orders, "o_orderkey",
      Seq("o_totalprice"), nBuckets = nBuckets, bucketCol = "o_custkey")
    Sinks.mergeByKeyBucket(s, custStore, customer, "c_custkey",
      Seq("c_acctbal"), nBuckets = nBuckets)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Storage-partitioned join: orders-store ⋈ customer-store on
    // (custkey, _bucket), then a per-bucket aggregate — the WHOLE
    // pipeline plans with zero ShuffleExchange (SpjSpec asserts it):
    // the scans' reported KeyGroupedPartitioning satisfies both the
    // join's and the aggregate's distribution requirements. The
    // `_bucket = _bucket` conjunct is redundant data-wise (bucket is a
    // function of custkey on both sides) but is what lets the planner
    // PROVE co-partitioning. This is the 100 TB store-store join: two
    // co-bucketed index stores join without moving a row.
    "q_dsv2_spj_join" -> { (s, dir) =>
      val ordStore = s"${Sinks.tmpBase}/spj_orders_store"
      val custStore = s"${Sinks.tmpBase}/spj_customer_store"
      val out = s"${Sinks.tmpBase}/spj_join_out"
      buildStores(s, dir, ordStore, custStore, nBuckets = 16)
      withSpj(s) {
        val o = read(s, ordStore).alias("o")
        val c = read(s, custStore).alias("c")
        val df = o.join(c,
            col("o.o_custkey") === col("c.c_custkey") &&
              col("o._bucket") === col("c._bucket"))
          .groupBy(col("o._bucket").as("bucket"))
          .agg(count(lit(1)).as("n_orders"),
            sumFix(col("o.o_totalprice"), 2).as("revenue"),
            sumFix(col("c.c_acctbal"), 2).as("acct_sum"))
        Sinks.writeAtomic(df, out)
      }
      s.read.parquet(out).orderBy(col("bucket"))
    })

  def oracleSql: Map[String, String] = Map(
    // the store holds the keyed upsert of orders/customer = the tables
    // themselves (all keys unique); _bucket = pmod(custkey, 16), and all
    // custkeys are positive so % agrees with pmod
    "q_dsv2_spj_join" -> s"""
      SELECT CAST(o_custkey % 16 AS INT) AS bucket,
             count(*) AS n_orders,
             ${sqlSumFix("o_totalprice", 2)} AS revenue,
             ${sqlSumFix("c_acctbal", 2)} AS acct_sum
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""")
}
