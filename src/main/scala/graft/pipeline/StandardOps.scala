package graft.pipeline

import graft.ops.{ControlOps, ParserOps, RecordOps}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The standard op registry: every built-in op registered under its
  * morphline command name (the reference discovers commands by name via the
  * `CommandBuilder` SPI + `importCommands` globs — this is the Spark-side
  * equivalent, so a `.conf` command chain compiles 1:1).
  *
  * Each builder reads its command's parsed block through [[Conf]]. Ops
  * needing Column expressions or schemas parse them from SQL / DDL / JSON
  * strings. Parsers read from and write to `_attachment_body` (the
  * reference's Fields.ATTACHMENT_BODY) unless the config says otherwise.
  */
object StandardOps {

  /** The entries of a required nested block (`paths`, `dictionary`). */
  private def entriesOf(c: Conf, key: String): Seq[(String, String)] =
    c.block(key).map(_.entries).getOrElse(
      throw new IllegalArgumentException(s"missing config '$key'"))

  /** Parse a schema config: DDL ("a INT, b STRING") or JSON StructType. */
  private def schemaOf(s: String): DataType =
    if (s.trim.startsWith("{")) DataType.fromJson(s)
    else StructType.fromDDL(s)

  def registry: OpRegistry = {
    val r = new OpRegistry
    // parsers (§2.A)
    r.register("readJson") { c =>
      val field = c.getOrElse("field", "_attachment_body")
      val out = c.getOrElse("outputField", "_attachment_body")
      c.get("schema") match {
        case Some(s) => ParserOps.readJson(field, schemaOf(s), out)
        case None =>
          // reference `readJson {}` parses schemaless — sample-infer at plan
          // time (driver-side, bounded; never per row)
          Op("readJson")(df =>
            ParserOps.readJsonInferred(df.sparkSession, field, out)(df))
      }
    }
    r.register("readCSV") { c =>
      ParserOps.readCsv(c.getOrElse("field", "_attachment_body"),
        schemaOf(c("schema")).asInstanceOf[StructType],
        c.getOrElse("separator", ","),
        c.getOrElse("outputField", "_attachment_body"))
    }
    r.register("readLine") { c =>
      ParserOps.readLine(c("field"), c.getOrElse("outputField", "line"),
        c.get("commentPrefix"))
    }
    r.register("readMultiLine") { c =>
      ParserOps.readMultiLine(c("field"), c("regex"),
        c.getOrElse("outputField", "line"))
    }
    r.register("readBlob")(c =>
      ParserOps.readBlob(c("field"), c.getOrElse("outputField", "blob")))
    r.register("readClob")(c =>
      ParserOps.readClob(c("field"), c.getOrElse("outputField", "clob")))
    r.register("readAvro") { c =>
      ParserOps.readAvro(c.getOrElse("field", "_attachment_body"),
        c("schemaString"), c.getOrElse("outputField", "_attachment_body"))
    }
    // field transforms (§2.B)
    r.register("setValues") { c => RecordOps.setValues(c.entries: _*) }
    r.register("addValues") { c =>
      RecordOps.addValues(c("field"), c.list("values").map(lit): _*)
    }
    r.register("removeFields")(c =>
      RecordOps.removeFields(c.list("fields"): _*))
    r.register("findReplace") { c =>
      RecordOps.findReplace(c("field"), c("pattern"), c("replacement"),
        isRegex = c.getOrElse("isRegex", "false").toBoolean)
    }
    r.register("split") { c =>
      RecordOps.splitField(c("field"), c("separator"),
        c.getOrElse("outputField", c("field")),
        isRegex = c.getOrElse("isRegex", "false").toBoolean)
    }
    r.register("splitKeyValue") { c =>
      RecordOps.splitKeyValue(c("field"),
        c.getOrElse("outputField", c("field")),
        c.getOrElse("pairSeparator", ","), c.getOrElse("separator", "="),
        isRegex = c.getOrElse("isRegex", "false").toBoolean)
    }
    r.register("translate") { c =>
      val dict = entriesOf(c, "dictionary").toMap
      RecordOps.translate(c("field"), dict,
        lit(c.getOrElse("fallback", "")), c.getOrElse("outputField", c("field")))
    }
    r.register("toString")(c =>
      RecordOps.toStringField(c("field"), c.get("trim").exists(_.toBoolean)))
    r.register("convertTimestamp") { c =>
      RecordOps.convertTimestamp(c("field"), c.list("inputFormats"),
        c("outputFormat"), c.getOrElse("outputField", c("field")),
        c.getOrElse("inputTimezone", "UTC"), c.getOrElse("outputTimezone", "UTC"))
    }
    r.register("generateUUID")(c =>
      RecordOps.generateUUID(c.getOrElse("field", "id")))
    r.register("grok")(c => RecordOps.grok(c("field"), c("pattern")))
    r.register("extractJsonPaths") { c =>
      // paths block: outField : path; morphline "/a/b" paths normalize
      // to "a.b"
      val paths = entriesOf(c, "paths").map { case (out, path) =>
        path.stripPrefix("/").replace('/', '.') -> out
      }
      RecordOps.extractPaths(c.getOrElse("field", "_attachment_body"), paths: _*)
    }
    r.register("extractJsonTree")(c =>
      RecordOps.extractTree(c("field"), c.getOrElse("separator", "_")))
    r.register("enrichJson") { c =>
      // exactly one schema source, like the reference (schemaString |
      // schemaFile | schemaField | schema-registry-url;
      // EnrichJsonBuilder.java:110-131)
      val sources = Seq("schemaString", "schemaFile", "schemaField",
        "schema-registry-url").filter(c.contains)
      require(sources.size == 1,
        "enrichJson needs exactly one of schemaString/schemaFile/" +
          s"schemaField/schema-registry-url, got: $sources")
      // reference `valueField` (EnrichJsonBuilder.java:150): when it names a
      // struct column, only that payload is conformed — otherwise the whole
      // record, i.e. the top-level columns
      val valueField = c.getOrElse("valueField", "_attachment_body")
      def enrich(df: org.apache.spark.sql.DataFrame,
                 p: graft.schema.SchemaProvider) =
        if (df.schema.fieldNames.contains(valueField) &&
            df.schema(valueField).dataType.isInstanceOf[StructType])
          graft.functions.Conform.conformStruct(df, valueField, p.schemaJson)
        else graft.functions.Conform.conformTo(df, p)
      sources.head match {
        case "schemaString" =>
          Op("enrichJson")(df =>
            enrich(df, graft.schema.SchemaProvider.Literal(c("schemaString"))))
        case "schemaFile" =>
          Op("enrichJson")(df =>
            enrich(df, graft.schema.SchemaProvider.FromFile(c("schemaFile"))))
        case "schemaField" =>
          Op("enrichJson")(df => graft.functions.Conform.conformByField(df,
            c("schemaField"),
            keep = if (c.contains("keepFields")) c.list("keepFields") else Nil,
            maxSchemas = c.getOrElse("maxSchemas", "16").toInt))
        case "schema-registry-url" =>
          // http(s) urls resolve to a real HTTP client (LRU-cached, the
          // reference's CachedSchemaRegistryClient(url, 100)); other
          // schemes fall back to the pluggable SchemaRegistryEnv.client
          // (config/morphlines.conf:31-37 shape)
          val subjectField = c("subjectField")
          val url = c("schema-registry-url")
          Op("enrichJson")(df => graft.functions.Conform.conformBySubject(df,
            subjectField, valueField,
            graft.schema.SchemaRegistryEnv.forUrl(url),
            maxSubjects = c.getOrElse("maxSubjects", "16").toInt))
      }
    }
    r.register("logInfo")(c =>
      RecordOps.observeMetrics(c.getOrElse("name", "logInfo")))
    r.register("logDebug")(c =>
      RecordOps.observeMetrics(c.getOrElse("name", "logDebug")))
    r.register("logTrace")(c =>
      RecordOps.observeMetrics(c.getOrElse("name", "logTrace")))
    r.register("logWarn")(c =>
      RecordOps.observeMetrics(c.getOrElse("name", "logWarn")))
    r.register("logError")(c =>
      RecordOps.observeMetrics(c.getOrElse("name", "logError")))
    // Kafka Connect envelope edges (FromConnectDataBuilder.java:94-121,
    // ToConnectDataBuilder.java:64-130). The schemaField config is accepted
    // and unused: in Spark the schema travels with the DataFrame.
    r.register("fromConnectData") { c =>
      val valueField = c.getOrElse("valueField", "value")
      val conv = c.getOrElse("converter", "string")
      Op.projection("fromConnectData")(_ => Seq("_attachment_body" ->
        (if (conv == "avro") col(valueField).cast("binary")
        else col(valueField).cast("string"))))
    }
    r.register("toConnectData") { c =>
      c.block("mappings") match {
        // mappings block: output connect field ← record field
        case Some(m) =>
          val pairs = m.entries
          Op("toConnectData")(df =>
            df.select(pairs.map { case (out, src) => col(src).as(out) }: _*))
        // no mappings: the attachment body IS the new connect value
        case None =>
          Op("toConnectData")(df =>
            if (df.columns.contains("_attachment_body"))
              df.withColumn("value", col("_attachment_body"))
            else df)
      }
    }
    r.register("toAvro") { c =>
      val sj = c.getOrElse("schemaString", throw new IllegalArgumentException(
        "toAvro needs schemaString (per-record schemaField schemas don't " +
          "compile to one batch plan; encode per-schema partitions instead)"))
      ParserOps.toAvroBytes(col(c.getOrElse("field", "_attachment_body")), sj,
        c.getOrElse("outputField", "_attachment_body"))
    }
    // control flow (§2.C)
    r.register("dropRecord")(c =>
      c.get("where") match {
        case Some(cond) => ControlOps.dropWhere(expr(cond))
        case None => ControlOps.keepWhere(lit(false))
      })
    // equals/contains accept BOTH config shapes: the explicit
    // field/value pair, and the Kite-stdlib map of record-field → value
    // list (`equals { foo : [bar, baz] }`). If both `field` and `value`
    // keys are present they are the explicit shape; otherwise every key is
    // a record field name.
    r.register("equals") { c =>
      if (c.contains("field") && c.contains("value"))
        ControlOps.keepWhere(col(c("field")) === c("value"))
      else ControlOps.kiteEquals(c.keys.map(f => f -> c.list(f)))
    }
    r.register("not")(c =>
      // scalar-config form (field/value pair); the Kite nested-command form
      // (`not { equals {...} }`) compiles in PipelineSpec via ControlOps.notOp
      ControlOps.notOp(
        ControlOps.keepWhere(col(c("field")) === c("value"))))
    r.register("contains") { c =>
      if (c.contains("field") && c.contains("value"))
        ControlOps.fieldContains(c("field"), c("value"))
      else ControlOps.kiteContains(c.keys.map(f => f -> c.list(f)))
    }
    r.register("head")(c => ControlOps.head(c("limit").toInt))
    r.register("sample")(c =>
      ControlOps.sample(c("probability").toDouble,
        c.getOrElse("seed", "42").toLong))
    r.register("separateAttachments")(c =>
      ParserOps.separateAttachments(c("field"),
        c.getOrElse("outputField", "attachment")))
    // remaining §2.B surface
    r.register("addValuesIfAbsent") { c =>
      RecordOps.addValuesIfAbsent(c("field"), c.list("values").map(lit): _*)
    }
    r.register("removeValues")(c =>
      RecordOps.removeValues(c("field"), lit(c("value"))))
    r.register("replaceValues") { c =>
      RecordOps.findReplace(c("field"), c("pattern"), c("replacement"))
    }
    r.register("toByteArray")(c =>
      RecordOps.toByteArray(c("field"), c.getOrElse("charset", "UTF-8")))
    r.register("decodeBase64")(c => RecordOps.decodeBase64(c("field")))
    r.register("encodeBase64")(c => RecordOps.encodeBase64(c("field")))
    r.register("addCurrentTime")(c =>
      RecordOps.addCurrentTime(c.getOrElse("field", "timestamp")))
    r.register("addLocalHost")(c =>
      RecordOps.addLocalHost(c.getOrElse("field", "host")))
    r.register("generateSolrSequenceKey") { c =>
      RecordOps.deterministicKey(c.getOrElse("field", "id"),
        c.list("baseIdField").map(col): _*)
    }
    r.register("sanitizeUnknownSolrFields") { c =>
      // field list comes from an explicit `fields` config or (the reference
      // shape, cloudsolr.conf:68-72) the solrLocator collection's registered
      // schema — looked up at apply time so SolrEnv registration order
      // doesn't matter. No known schema → pass-through (the reference would
      // fetch it from live Solr; without one there is nothing to sanitize
      // against).
      val explicit = if (c.contains("fields")) Some(c.list("fields")) else None
      val collection = c.block("solrLocator").flatMap(_.get("collection"))
      Op("sanitizeUnknownSolrFields") { df =>
        explicit.orElse(collection.flatMap(graft.io.Sinks.SolrEnv.schemaOf))
          .map(graft.io.Sinks.sanitizeToSchema(df, _)).getOrElse(df)
      }
    }
    // sinks (§2.D) — terminal commands that load and pass the record on
    r.register("loadSolr") { c =>
      val locator = c.block("solrLocator")
      val collection = locator.flatMap(_.get("collection")).orElse(c.get("collection"))
        .getOrElse(throw new IllegalArgumentException(
          "loadSolr needs solrLocator.collection"))
      val batch = locator.flatMap(_.get("batchSize")).orElse(c.get("batchSize"))
        .map(_.toInt).getOrElse(1000)
      Op("loadSolr")(df => graft.io.Sinks.loadSolr(df, collection, batch))
    }
    r.register("kafkaProducer") { c =>
      // KafkaDataProducerCommandBuilder.java:129-243: topic literal or
      // per-record topicField; key/value fields with optional Avro schemas;
      // `properties` (bootstrap-servers / kafka-rest-url / schema-registry-
      // url) configure the transport, which here is the pluggable
      // Sinks.KafkaEnv — transport endpoints are deployment config, not
      // plan structure.
      val batch = c.get("batchSize").map(_.toInt).getOrElse(1000)
      Op("kafkaProducer") { df =>
        val topicCol = c.get("topicField").map(f => col(f).cast("string"))
          .orElse(c.get("topic").map(lit(_)))
          .getOrElse(throw new IllegalArgumentException(
            "kafkaProducer needs 'topic' or 'topicField'"))
        val valueField = c.getOrElse("valueField", "_attachment_body")
        val keyCol = c.get("keyField") match {
          case Some(f) => c.get("keySchemaString") match {
            case Some(ks) => graft.exprs.AvroExprs.to_avro_binary(col(f), ks)
            case None => col(f).cast("string").cast("binary")
          }
          case None => lit(null).cast("binary")
        }
        (c.get("valueSchemaString"), c.get("valueSchemaField")) match {
          case (Some(sch), _) =>
            graft.io.Sinks.kafkaProduce(df, topicCol, keyCol,
              graft.exprs.AvroExprs.to_avro_binary(col(valueField), sch), batch)
          case (None, Some(sf)) =>
            graft.io.Sinks.kafkaProduceBySchemaField(df, topicCol, keyCol,
              valueField, sf, batch)
          case (None, None) =>
            graft.io.Sinks.kafkaProduce(df, topicCol, keyCol,
              col(valueField).cast("binary"), batch)
        }
      }
    }
    r.register("extractURIComponents")(c =>
      RecordOps.extractUriComponents(c("field"),
        c.getOrElse("prefix", "uri_")))
    r.register("extractURIQueryParameters")(c =>
      RecordOps.extractUriQueryParam(c("field"), c("parameter"),
        c.getOrElse("outputField", c("parameter"))))
    r.register("extractAvroPaths") { c =>
      val paths = entriesOf(c, "paths").map(_.swap)
      RecordOps.extractPaths(c.getOrElse("field", "_attachment_body"), paths: _*)
    }
    r
  }
}
