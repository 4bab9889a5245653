package graft.sink

import java.util

import graft.config.StreamsConfig
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 registration of the Kinesis-shaped sink (SURVEY §2.5 O3 —
  * the Spark twin of the reference's plugin registration,
  * s12v/awsbeats plugins/kinesis/main.go:10-13):
  *
  * {{{
  *   records.writeStream.format("graft-streams")
  *     .option("region", "us-east-1").option("stream_name", "events")
  *     .option("putter.class", "com.example.KinesisPutter")
  *     .option("checkpointLocation", ck).start()
  * }}}
  *
  * The short name resolves through the standard `DataSourceRegister`
  * service-loader file. Input schema: `data STRING` (NDJSON payload) plus an
  * optional `partition_key STRING`. Each task partition builds its own
  * putter (one service client per executor core — no driver round-trip) and
  * writes its rows through the sink's one task-side [[RecordWriter]].
  *
  * The putter is configured by class name (`putter.class`, a no-arg
  * constructor implementing [[BatchPut.Putter]]) because DSv2 options are
  * string-only — the same seam the tests stub, and where a real AWS SDK
  * client factory plugs in.
  */
class GraftStreamsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-streams"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStreamsProvider.recordSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftStreamsTable(schema)
}

object GraftStreamsProvider {
  val recordSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("data", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("partition_key", org.apache.spark.sql.types.StringType)))

  /** Options Spark itself injects on the DSv2 write path — not config, not
    * typos; everything else unknown is rejected by the shared front end. */
  private val infraKeys = Set("checkpointlocation", "path", "queryname")

  /** DSv2 options → validated config via the shared untyped front end
    * ([[StreamsConfig.fromOptions]]) — one unpack path for both routes.
    * `putter.*` keys belong to this provider (the client-factory seam);
    * anything else unrecognized fails at plan time like a typo'd YAML key. */
  private[sink] def configFrom(options: Map[String, String]): StreamsConfig =
    StreamsConfig.fromOptions(options,
        tolerate = k => k.startsWith("putter.") || infraKeys(k))
      .fold(err => throw new IllegalArgumentException(err), identity)

  private[sink] def newPutter(className: String): BatchPut.Putter =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[BatchPut.Putter]
}

private class GraftStreamsTable(schema0: StructType) extends Table with SupportsWrite {
  override def name(): String = "graft-streams"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val options = info.options.asScala.toMap
    val cfg = GraftStreamsProvider.configFrom(options) // validate at plan time (≈ outputs.Fail)
    val putterClass = options.getOrElse("putter.class",
      throw new IllegalArgumentException("putter.class option is required"))
    val (dataIdx, keyIdx) = RecordWriter.columns(info.schema())
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new GraftStreamingWrite(cfg, putterClass, dataIdx, keyIdx)
        override def toBatch: BatchWrite =
          new GraftBatchWrite(cfg, putterClass, dataIdx, keyIdx)
      }
    }
  }
}

/** DSv2 task-side adapter over [[RecordWriter]]; publishing the rest on
  * commit mirrors `Publish(batch)`'s unit of work. Epoch/commit metadata gives
  * at-least-once on replay (E3). */
private class GraftDataWriter(cfg: StreamsConfig, putterClass: String,
    dataIdx: Int, keyIdx: Int) extends DataWriter[InternalRow] {
  private val writer = new RecordWriter(GraftStreamsProvider.newPutter(putterClass), cfg)

  override def write(row: InternalRow): Unit =
    writer.write(row.getUTF8String(dataIdx).getBytes,
      if (keyIdx >= 0 && !row.isNullAt(keyIdx)) row.getUTF8String(keyIdx).toString else null)
  override def commit(): WriterCommitMessage = { writer.flush(); GraftCommit }
  override def abort(): Unit = writer.discard()
  override def close(): Unit = ()
}

private case object GraftCommit extends WriterCommitMessage

private class GraftWriterFactory(cfg: StreamsConfig, putterClass: String,
    dataIdx: Int, keyIdx: Int)
  extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(cfg, putterClass, dataIdx, keyIdx)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(cfg, putterClass, dataIdx, keyIdx)
}

private class GraftStreamingWrite(cfg: StreamsConfig, putterClass: String,
    dataIdx: Int, keyIdx: Int) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftWriterFactory(cfg, putterClass, dataIdx, keyIdx)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private class GraftBatchWrite(cfg: StreamsConfig, putterClass: String,
    dataIdx: Int, keyIdx: Int) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(cfg, putterClass, dataIdx, keyIdx)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}
