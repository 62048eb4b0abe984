package graft.ops

import graft.pipeline.{Op, ProjectionOp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Payload parsers — the reference's scan layer (SURVEY.md §2.A). The
  * reference parses attachment bytes record-at-a-time (`readJson`, `readCSV`,
  * `readLine`, …); here each parser is a built-in columnar expression
  * (`from_json`/`from_csv`/`split`) so parsing stays inside whole-stage
  * codegen.
  */
object ParserOps {

  /** `readJson` (reference: config/cloudsolr.conf:30): parse a JSON string
    * column into a struct column with an explicit schema.
    */
  def readJson(src: String, schema: DataType, out: String = "json"): ProjectionOp =
    Op.projection("readJson")(_ =>
      Seq(out -> from_json(col(src).cast("string"), schema)))

  /** Schema-free `readJson`: sample-infer the schema at plan time (the
    * schemaless `Map` payload case, Records.java:47-69). Inference reads a
    * bounded sample on the driver — plan-time cost only, never per-row.
    */
  def readJsonInferred(spark: org.apache.spark.sql.SparkSession, src: String,
                       out: String = "json", sampleRows: Int = 1000): Op =
    Op("readJsonInferred") { df =>
      import spark.implicits._
      val sample = df.select(col(src).cast("string")).as[String]
        .filter((s: String) => s != null).limit(sampleRows)
      val schema = spark.read.json(sample).schema
      df.withColumn(out, from_json(col(src).cast("string"), schema))
    }

  /** `readCSV`: delimited parse with configurable separator into named
    * columns (reference Ring C, kite-core stdio).
    */
  def readCsv(src: String, schema: StructType, sep: String = ",",
              out: String = "csv"): Op =
    Op("readCSV") { df =>
      df.withColumn(out,
        from_csv(col(src).cast("string"), schema, Map("sep" -> sep)))
    }

  /** `readLine`: split a text payload into one record per line (1→N). */
  def readLine(src: String, out: String = "line",
               commentPrefix: Option[String] = None): Op =
    Op("readLine") { df =>
      val lines = df.withColumn(out, explode(split(col(src).cast("string"), "\r?\n")))
      commentPrefix match {
        case Some(p) => lines.filter(!col(out).startsWith(p) && col(out) =!= "")
        case None => lines
      }
    }

  /** `readMultiLine`: stitch continuation lines (regex-matched) onto their
    * predecessor, then emit one record per logical line. The newline before a
    * continuation line is first rewritten to a sentinel, so the line split
    * keeps stitched groups together; the sentinel is then restored.
    */
  def readMultiLine(src: String, continuationRegex: String,
                    out: String = "line"): Op =
    Op("readMultiLine") { df =>
      val sentinel = "\u0001"
      df.withColumn(out, explode(split(
          regexp_replace(col(src).cast("string"),
            s"\\r?\\n(?=$continuationRegex)", sentinel),
          "\\r?\\n")))
        .withColumn(out, regexp_replace(col(out), sentinel, "\n"))
    }

  /** `readAvro` (kite-avro): decode an Avro-binary column against a writer
    * schema into a struct column (custom expression over plain Apache Avro —
    * spark-avro is not on this classpath).
    */
  def readAvro(src: String, schemaJson: String, out: String = "avro"): Op =
    Op("readAvro") { df =>
      df.withColumn(out,
        graft.exprs.AvroExprs.from_avro_binary(col(src).cast("binary"), schemaJson))
    }

  /** `toAvro` + `writeAvroToByteArray`: struct column → Avro binary. */
  def toAvroBytes(srcStruct: org.apache.spark.sql.Column, schemaJson: String,
                  out: String = "value"): Op =
    Op("toAvro") { df =>
      df.withColumn(out, graft.exprs.AvroExprs.to_avro_binary(srcStruct, schemaJson))
    }

  /** `decompress` (gzip): inflate a compressed attachment body ahead of the
    * parsers.
    */
  def gunzip(src: String, out: String): Op =
    Op("decompress") { df =>
      df.withColumn(out, graft.exprs.HashExprs.gunzip(col(src).cast("binary")))
    }

  /** `readBlob`/`readClob`: whole payload as one binary/string field. */
  def readBlob(src: String, out: String = "blob"): ProjectionOp =
    Op.projection("readBlob")(_ => Seq(out -> col(src).cast("binary")))
  def readClob(src: String, out: String = "clob"): ProjectionOp =
    Op.projection("readClob")(_ => Seq(out -> col(src).cast("string")))

  /** `separateAttachments`: fan out one record per attachment (1→N). */
  def separateAttachments(arrayField: String, out: String): Op =
    Op("separateAttachments")(df => df.withColumn(out, explode(col(arrayField))))

  /** Serialize back out — the reference's `fromConnectData`/`toAvro` shape
    * (json here; avro via spark-avro's to_avro at the Kafka sink edge).
    */
  def writeJson(cols: Seq[String], out: String = "value"): Op =
    Op("writeJson") { df =>
      df.withColumn(out, to_json(struct(cols.map(col): _*)))
    }
}
