package graft.sources

import graft.kernel.WarcCodec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** WARC web-archive files (`spark.read.format("warc")`) — the raw
  * container a web-scale training-data ingest starts from. Not a
  * reference-surface component (MIINT has no web formats); part of the
  * LLM-pipeline brief's multimodal/ingest surface, same contract as the
  * fastx/sam sources.
  *
  * Schema: one row per WARC record. `application/http` response
  * payloads are split — `http_status`/`http_content_type` from the
  * HTTP header block, `payload` = the HTTP BODY; other records carry
  * the raw payload with NULL http columns.
  *
  * Scale: one partition per file (a .warc.gz is per-record gzip
  * members — splitting within a file needs a member index; crawls ship
  * thousands of ~1 GB files, so file-level parallelism is the real
  * unit). The HTTP split runs only when an http column or `payload` is read, and
  * the header map only for `http_content_type`; the payload BYTES are
  * still consumed from the stream either way — Content-Length skipping
  * would save only the copy, since a gzip member must be decompressed
  * through regardless.
  */
class WarcDataSource extends FileSource(WarcFormat)

/** One WARC record with its HTTP split computed at most once, on first use. */
final class WarcRow(val rec: WarcCodec.WarcRecord, needHeaders: Boolean) {
  lazy val http: Option[WarcCodec.HttpPayload] =
    if (rec.contentType.exists(_.startsWith("application/http")))
      WarcCodec.httpSplit(rec.payload, needHeaders)
    else None
}

object WarcFormat extends FileFormat[WarcRow] {
  override val name = "warc"
  override def columns(options: CaseInsensitiveStringMap): StructType = StructType(Seq(
    StructField("record_index", LongType),
    StructField("warc_type", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("record_id", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("http_status", IntegerType),
    StructField("http_content_type", StringType),
    StructField("payload", BinaryType)))

  override def open(part: FilePartition, options: Map[String, String],
      required: StructType): Records[WarcRow] = {
    val in = WarcCodec.maybeGunzip(
      FileSourceCommon.openStream(part.path), WarcCodec.looksLikeGzip(part.path))
    val needHeaders = required.fieldNames.contains("http_content_type")
    Records(WarcCodec.records(in).map(new WarcRow(_, needHeaders)), in)
  }

  private def str(s: Option[String]): UTF8String = s.map(UTF8String.fromString).orNull

  override val column: PartialFunction[String, ColumnReader[WarcRow]] = {
    case "record_index" => (r, _) => r.rec.index
    case "warc_type" => (r, _) => str(r.rec.warcType)
    case "target_uri" => (r, _) => str(r.rec.targetUri)
    case "warc_date" => (r, _) => str(r.rec.date)
    case "record_id" => (r, _) => str(r.rec.recordId)
    case "content_type" => (r, _) => str(r.rec.contentType)
    case "content_length" => (r, _) => r.rec.payload.length.toLong
    case "http_status" => (r, _) => r.http.map(h => Int.box(h.status)).orNull
    case "http_content_type" => (r, _) => str(r.http.flatMap(_.headers.get("content-type")))
    case "payload" => (r, _) => r.http.map(_.body).getOrElse(r.rec.payload)
  }
}
