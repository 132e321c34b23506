package graft.sources

import java.util
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 connector for a CDX-indexed WARC archive — the read
  * path that makes a 100 TB page archive queryable without scanning
  * it. The reference re-fetches from origin per run
  * (`/root/reference/src/extractor/service.py`); an archive replay
  * reads captures, and WHICH captures is almost always a key
  * predicate ("this page", "this site section") the index can answer
  * before a single archive byte moves.
  *
  * Layout (built by [[WarcArchive.indexShards]]):
  *   `<path>/shards/` — immutable member-framed `.warc` shard files
  *   `<path>/cdx/`    — parquet sidecar, one row per member:
  *                      (file, id, uri, urlkey, rec_offset, rec_len,
  *                       digest)
  *
  *   spark.read.format("graft.sources.WarcArchiveSource")
  *     .option("path", dir).load()
  *
  * Three physically different plans from one logical table, chosen by
  * what the query pushes down:
  *
  *  - **selective + payload** (`urlkey = …` / `startswith`, payload
  *    projected): the pushed predicate prunes the SIDECAR (itself a
  *    parquet scan with its own pushdown), matches group per shard
  *    file sorted by offset, and the reader SEEKS each member extent
  *    — ranged reads, never a shard scan;
  *  - **selective, metadata only** (payload NOT projected): the
  *    answer is already in the sidecar — partitions carry the index
  *    rows and NO shard file is opened at all (spec-pinned via
  *    [[WarcArchive.filesOpened]]);
  *  - **no pushed predicate**: full-archive scan, one partition per
  *    shard file streaming [[graft.ingest.Warc.splitIndexed]] — the
  *    index is not consulted (a full scan reads everything anyway;
  *    this path also serves an archive whose sidecar is stale or
  *    absent).
  *
  * A seek whose slice no longer parses to exactly one member (stale
  * extent after shard corruption) is quarantined — dropped from the
  * result, the [[graft.ingest.Cdx.fetch]] contract, never misframed
  * bytes.
  */
class WarcArchiveSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcArchive.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcArchiveTable(properties.get("path"))
}

object WarcArchive {
  val schema: StructType = StructType(Seq(
    StructField("urlkey", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("uri", StringType, nullable = false),
    StructField("digest", StringType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("rec_len", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** Members per seek partition — bounds task size when one urlkey
    * prefix matches a large site section. */
  val MaxMembersPerSplit: Int = 1024

  /** Local-mode test instrumentation: shard files opened by readers.
    * Meaningful only when driver and executors share a JVM (tests);
    * documents nothing in production. */
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Build/refresh the sidecar: index every shard distributedly (one
    * binaryFile task per shard — indexing rides a scan it would pay
    * anyway) and (over)write `<path>/cdx`. */
  def indexShards(spark: SparkSession, path: String): Unit = {
    import graft.ingest.Cdx
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc").load(s"$path/shards")
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        explode(Cdx.indexUdf(col("content"))).as("e"))
      .select(col("file"), col("e._1").as("id"), col("e._2").as("uri"),
        col("e._3").as("urlkey"), col("e._4").as("rec_offset"),
        col("e._5").as("rec_len"), col("e._6").as("digest"))
      .write.mode("overwrite").parquet(s"$path/cdx")
  }

  /** The sidecar as a DataFrame (the join-it-yourself surface — q322/
    * q323-style index queries don't need the connector at all). */
  def cdx(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cdx")

  /** Archive GC — the VACUUM of the capture store: rewrite `src` into
    * `dst` keeping only each urlkey's LATEST capture (max id) and
    * dropping `tombstones` urlkeys (pages the crawl observed gone,
    * q327's delta), then rebuild the sidecar. Captures being
    * immutable, this is the ONLY operation that ever removes bytes.
    *
    * `shardCol` assigns each kept member its destination shard
    * (evaluated against the member columns: id/uri/urlkey/...);
    * members pack id-sorted within a shard, so the layout is a pure
    * function of the kept set — re-running repack is idempotent.
    *
    * Plan shape: one full source scan (a compaction is archive-linear
    * by nature), a per-urlkey window over the BOUNDED capture grain,
    * an optional anti-join against tombstones, and a per-shard
    * serialization. The final shard rows are collected to write the
    * files — bounded by the shard count at test scale; a deployment
    * streams the same rows to a binary-file sink instead. */
  def repack(spark: SparkSession, src: String, dst: String,
             shardCol: org.apache.spark.sql.Column,
             tombstones: Option[DataFrame] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    val members = spark.read.format("graft.sources.WarcArchiveSource")
      .option("path", src).load()
    val latest = members
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("urlkey")).orderBy(col("id").desc)))
      .filter(col("_rn") === 1).drop("_rn")
    val kept = tombstones
      .map(t => latest.join(t, Seq("urlkey"), "left_anti"))
      .getOrElse(latest)
    val shards = kept
      .select(shardCol.cast("long").as("shard"),
        struct(col("id"),
          graft.ingest.Warc.record(col("id"), col("uri"),
            col("payload")).as("m")).as("sm"))
      .groupBy(col("shard"))
      .agg(graft.ingest.Warc.concatBlobs(transform(
        sort_array(collect_list(col("sm"))), x => x("m"))).as("blob"))
      .collect()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dst/shards"))
    shards.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          f"$dst/shards/shard-${r.getLong(0)}%04d.warc"),
        r.getAs[Array[Byte]](1))
    }
    indexShards(spark, dst)
  }

  private[sources] def filterColumn(pushed: Array[Filter])
      : Option[org.apache.spark.sql.Column] =
    pushed.foldLeft(Option.empty[org.apache.spark.sql.Column]) { (acc, f) =>
      val c = f match {
        case EqualTo("urlkey", v: String) => col("urlkey") === v
        case StringStartsWith("urlkey", p) => col("urlkey").startsWith(p)
        case other => throw new IllegalStateException(
          s"pushed filter $other has no index evaluation — pushFilters " +
            "and filterColumn are out of sync")
      }
      Some(acc.map(_ && c).getOrElse(c))
    }
}

class WarcArchiveTable(path: String) extends Table with SupportsRead {
  require(path != null,
    "graft.sources.WarcArchiveSource requires option(\"path\", dir)")
  override def name(): String = s"warc_archive($path)"
  override def schema(): StructType = WarcArchive.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcArchiveScanBuilder(path)
}

class WarcArchiveScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = WarcArchive.schema
  private var pushed: Array[Filter] = Array.empty
  private var hadResidual = false
  private var countStar = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("urlkey", _: String) => true
      case StringStartsWith("urlkey", _) => true
      case _ => false
    }
    pushed = supported
    hadResidual = rest.nonEmpty
    rest // residuals Spark evaluates on returned rows
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  /** Ungrouped COUNT(*) is a SIDECAR aggregation — "how many captures
    * of this site section" over a 100 TB archive is a parquet agg on
    * the ~60 B/row index, zero shard bytes. Refused when a residual
    * filter exists (Spark must post-filter rows, a sidecar count
    * would overcount — the [[PagesScanBuilder]] rule). */
  private def canAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    !hadResidual && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar]
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = canAnswer(agg)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (!canAnswer(agg)) return false
    countStar = true
    true
  }

  override def build(): Scan =
    if (countStar) new WarcArchiveCountScan(path, pushed)
    else new WarcArchiveScan(path, requiredSchema, pushed)
}

/** Completely-pushed COUNT(*): one sidecar aggregation (itself a
  * pruned parquet scan), one result partition, zero shard opens. */
class WarcArchiveCountScan(path: String, pushed: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-warc-archive-agg path=$path, pushedAggregates=[COUNT(*)], " +
      s"pushedFilters=[${pushed.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val base = WarcArchive.cdx(spark, path)
    val cnt = WarcArchive.filterColumn(pushed)
      .map(base.filter).getOrElse(base).count()
    Array(AggResultPartition(Array[Any](cnt)))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new AggResultReaderFactory
}

class WarcArchiveScan(path: String, requiredSchema: StructType,
                      pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-warc-archive path=$path, " +
      s"readSchema=[${requiredSchema.fieldNames.mkString(",")}], " +
      s"pushedFilters=[${pushed.mkString(",")}]"

  private def needsPayload: Boolean =
    requiredSchema.fieldNames.contains("payload")

  override def planInputPartitions(): Array[InputPartition] = {
    if (pushed.isEmpty) {
      // full scan: one partition per shard, index not consulted
      val dir = new java.io.File(s"$path/shards")
      return Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".warc"))
        .sortBy(_.getName)
        .map(f => ShardScanPartition(f.getAbsolutePath): InputPartition)
    }
    // selective: prune the sidecar (parquet pushdown applies there
    // too), collect ONLY the matches — the contract is that pushed
    // predicates are selective; a full-archive query pushes nothing
    // and takes the scan path above
    val spark = SparkSession.active
    val rows = WarcArchive.cdx(spark, path)
      .filter(WarcArchive.filterColumn(pushed).get)
      .select("file", "id", "uri", "urlkey", "rec_offset", "rec_len",
        "digest")
      .collect()
      .map(r => CdxRow(r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5), r.getString(6)))
    if (!needsPayload) {
      // metadata-only: the sidecar already IS the answer
      rows.grouped(WarcArchive.MaxMembersPerSplit)
        .map(g => IndexRowsPartition(g.toArray): InputPartition).toArray
    } else {
      // seek path: per shard file, offset-sorted ranged reads
      rows.groupBy(_.file).toArray.sortBy(_._1).flatMap { case (f, rs) =>
        rs.sortBy(_.rec_offset).grouped(WarcArchive.MaxMembersPerSplit)
          .map(g => SeekPartition(s"$path/shards/$f", g.toArray)
            : InputPartition)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcArchiveReaderFactory(requiredSchema)
}

private[sources] case class CdxRow(file: String, id: Long, uri: String,
                                   urlkey: String, rec_offset: Long,
                                   rec_len: Long, digest: String)

case class ShardScanPartition(filePath: String) extends InputPartition
case class IndexRowsPartition(rows: Array[CdxRow]) extends InputPartition
case class SeekPartition(filePath: String, rows: Array[CdxRow])
  extends InputPartition

class WarcArchiveReaderFactory(requiredSchema: StructType)
    extends PartitionReaderFactory {

  private def rowOf(r: CdxRow, payload: Array[Byte]): InternalRow = {
    val out = new GenericInternalRow(requiredSchema.length)
    requiredSchema.fieldNames.zipWithIndex.foreach {
      case ("urlkey", i) => out.update(i, UTF8String.fromString(r.urlkey))
      case ("id", i) => out.update(i, r.id)
      case ("uri", i) => out.update(i, UTF8String.fromString(r.uri))
      case ("digest", i) => out.update(i, UTF8String.fromString(r.digest))
      case ("rec_offset", i) => out.update(i, r.rec_offset)
      case ("rec_len", i) => out.update(i, r.rec_len)
      case ("payload", i) => out.update(i, payload)
      case (other, _) =>
        throw new IllegalStateException(s"unknown column $other")
    }
    out
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {

    case IndexRowsPartition(rows) =>
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = rowOf(rows(i), null)
        override def close(): Unit = ()
      }

    case SeekPartition(filePath, rows) =>
      new PartitionReader[InternalRow] {
        WarcArchive.filesOpened.incrementAndGet()
        private val raf = new java.io.RandomAccessFile(filePath, "r")
        private var i = -1
        private var current: InternalRow = _
        override def next(): Boolean = {
          i += 1
          while (i < rows.length) {
            val r = rows(i)
            val buf = new Array[Byte](r.rec_len.toInt)
            val ok = r.rec_offset >= 0 && r.rec_len > 0 &&
              r.rec_offset + r.rec_len <= raf.length()
            if (ok) {
              raf.seek(r.rec_offset)
              raf.readFully(buf)
            }
            // the Cdx.fetch contract: a stale extent quarantines
            graft.ingest.Warc.split(if (ok) buf else Array.emptyByteArray)
                match {
              case Seq(one) => current = rowOf(r, one.payload); return true
              case _ => i += 1 // stale — drop, try the next member
            }
          }
          false
        }
        override def get(): InternalRow = current
        override def close(): Unit = raf.close()
      }

    case ShardScanPartition(filePath) =>
      new PartitionReader[InternalRow] {
        WarcArchive.filesOpened.incrementAndGet()
        private val blob = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(filePath))
        private val members = graft.ingest.Warc.splitIndexed(blob).iterator
        private var current: InternalRow = _
        override def next(): Boolean = {
          if (!members.hasNext) return false
          val m = members.next()
          current = rowOf(CdxRow(filePath, m.id, m.uri,
            graft.ingest.Cdx.surt(m.uri), m.offset, m.length,
            graft.ingest.Cdx.md5hex(m.payload)), m.payload)
          true
        }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }

    case other =>
      throw new IllegalStateException(s"unknown partition $other")
  }
}

/** One precomputed aggregate row: a pushed-down aggregate answered from
  * the index metadata becomes a single partition that emits it. */
case class AggResultPartition(values: Array[Any]) extends InputPartition

class AggResultReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vs = partition.asInstanceOf[AggResultPartition].values
    new PartitionReader[InternalRow] {
      private var consumed = false
      override def next(): Boolean = !consumed && { consumed = true; true }
      override def get(): InternalRow = new GenericInternalRow(vs.clone())
      override def close(): Unit = ()
    }
  }
}
