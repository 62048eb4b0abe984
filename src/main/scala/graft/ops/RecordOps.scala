package graft.ops

import graft.functions.{Grok, Interp, TimeFunctions}
import graft.pipeline.{Op, ProjectionOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Field-level transforms — the morphline "SELECT list" commands
  * (SURVEY.md §2.B). Every op compiles to built-in, codegen'd column
  * expressions; none shuffles.
  */
object RecordOps {

  /** `setValues` (reference: config/cloudsolr.conf:52-56): assign fields;
    * values may interpolate `@{field}` refs; replaces existing values.
    */
  def setValues(assignments: (String, String)*): ProjectionOp =
    Op.projection("setValues") { df =>
      // each template sees the input columns and the fields assigned
      // before it
      val known = df.columns.toSet
      assignments.zipWithIndex.map { case ((field, template), i) =>
        field -> Interp.interpolate(template,
          Some(known ++ assignments.take(i).map(_._1)))
      }
    }

  /** Typed variant: assign arbitrary Column expressions. */
  def setColumns(assignments: (String, Column)*): ProjectionOp =
    Op.projection("setColumns")(_ => assignments)

  /** A field as a multi-valued list: an absent field is empty, a scalar
    * field a one-element array (morphline fields are List-valued,
    * ToConnectDataBuilder.java:153-158).
    */
  private def valuesOf(df: DataFrame, field: String): Column =
    if (!df.columns.contains(field)) array()
    else df.schema(field).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(field)
      case _ => array(col(field))
    }

  /** `addValues`: append to a multi-valued field (promotes scalar → array). */
  def addValues(field: String, values: Column*): ProjectionOp =
    Op.projection("addValues")(df =>
      Seq(field -> concat(valuesOf(df, field), array(values: _*))))

  /** `addValuesIfAbsent`: append only values not already present (same
    * scalar→array promotion and missing-field handling as [[addValues]]).
    */
  def addValuesIfAbsent(field: String, values: Column*): ProjectionOp =
    Op.projection("addValuesIfAbsent")(df =>
      Seq(field -> array_union(valuesOf(df, field), array(values: _*))))

  /** `removeFields` by exact name (drop). */
  def removeFields(fields: String*): Op =
    Op("removeFields")(df => df.drop(fields: _*))

  /** `removeFields` with a regex over field names. */
  def removeFieldsMatching(regex: String): Op =
    Op("removeFieldsMatching") { df =>
      df.drop(df.columns.filter(_.matches(regex)).toSeq: _*)
    }

  /** `removeValues`: drop matching values inside an array field. */
  def removeValues(field: String, value: Column): ProjectionOp =
    Op.projection("removeValues")(_ => Seq(field -> array_remove(col(field), value)))

  /** `replaceValues` via regex within a string field = `findReplace`. */
  /** Kite's findReplace matches the pattern LITERALLY unless isRegex is
    * set (same convention as `split`) — in literal mode both the pattern
    * and the replacement are quoted, so a '$' or '\' in the replacement
    * is data, not a group reference. */
  def findReplace(field: String, pattern: String, replacement: String,
                  isRegex: Boolean = false): ProjectionOp =
    if (isRegex) findReplaceRegex(field, pattern, replacement)
    else findReplaceRegex(field,
      java.util.regex.Pattern.quote(pattern),
      java.util.regex.Matcher.quoteReplacement(replacement))

  private def findReplaceRegex(field: String, pattern: String,
                               replacement: String): ProjectionOp =
    Op.projection("findReplace")(_ =>
      Seq(field -> regexp_replace(col(field), pattern, replacement)))

  /** `split`: tokenize a string field into an array of values. */
  /** Kite's `split` treats the separator as a LITERAL unless isRegex is
    * set (SplitBuilder's `isRegex` option) — Spark's split/str_to_map
    * take regexes, so a literal separator like `|` or `.` must be
    * Pattern.quote'd or it silently splits on the wrong boundaries. */
  def splitField(field: String, separator: String, outputField: String,
                 isRegex: Boolean = false): ProjectionOp =
    Op.projection("split") { _ =>
      val sep =
        if (isRegex) separator else java.util.regex.Pattern.quote(separator)
      Seq(outputField -> split(col(field), sep))
    }

  /** `splitKeyValue`: parse `k=v` pair strings into a map. Separators are
    * literal unless isRegex (see [[splitField]]). Same shape as
    * `str_to_map` (value = remainder after the FIRST kvSep; a pair with
    * no kvSep maps to null), but DUPLICATED keys take the LAST value
    * instead of aborting the batch: ANSI `str_to_map`/`map_from_entries`
    * throw DUPLICATED_MAP_KEY on input like `"a=1,a=2"`, which is legal
    * data for the reference (its splitKeyValue appends every value to a
    * multi-valued record field). */
  def splitKeyValue(field: String, outputField: String,
                    pairSep: String = ",", kvSep: String = "=",
                    isRegex: Boolean = false): ProjectionOp =
    Op.projection("splitKeyValue") { _ =>
      val (p, k) =
        if (isRegex) (pairSep, kvSep)
        else (java.util.regex.Pattern.quote(pairSep),
          java.util.regex.Pattern.quote(kvSep))
      val entries = transform(split(col(field), p),
        pair => {
          val parts = split(pair, k, 2)
          struct(get(parts, lit(0)).as("key"), get(parts, lit(1)).as("value"))
        })
      // keep the LAST occurrence of each key (at its own position): drop
      // an entry iff a later entry carries the same key. Pairs per record
      // are few, so the quadratic exists() stays a scan-stage lambda.
      val lastWins = filter(entries, (e, i) =>
        !exists(slice(entries, i + lit(2), size(entries)),
          e2 => e2.getField("key") === e.getField("key")))
      Seq(outputField -> map_from_entries(lastWins))
    }

  /** `translate`: dictionary lookup with default. Small dictionaries compile
    * to a literal-map lookup (codegen'd); large dictionaries should use a
    * broadcast join instead (see [[translateViaJoin]]).
    */
  def translate(field: String, dict: Map[String, String],
                default: Column, outputField: String): ProjectionOp =
    Op.projection("translate") { _ =>
      val m = typedLit(dict)
      Seq(outputField ->
        coalesce(element_at(m, col(field).cast("string")), default))
    }

  /** `translate` at scale: broadcast-join against a dictionary DataFrame
    * (columns `key`, `value`). For dictionaries too large for a literal map
    * but small enough to broadcast — the 100 TB-side pattern.
    */
  def translateViaJoin(field: String, dict: DataFrame, outputField: String): Op =
    Op("translateViaJoin") { df =>
      df.join(broadcast(dict.withColumnRenamed("key", field)
          .withColumnRenamed("value", outputField)),
        Seq(field), "left")
    }

  /** `toString` with optional trim (reference: TESTR/identity.conf:183-188). */
  def toStringField(field: String, trimOutput: Boolean = false): ProjectionOp =
    Op.projection("toString") { _ =>
      val c = col(field).cast("string")
      // full-whitespace trim (tabs/newlines too) — the reference trims with
      // Java String.trim, not the space-only SQL trim
      Seq(field ->
        (if (trimOutput) regexp_replace(c, "^\\s+|\\s+$", "") else c))
    }

  /** `toByteArray` / `decodeBase64` codecs. */
  def toByteArray(field: String, charset: String = "UTF-8"): ProjectionOp =
    Op.projection("toByteArray")(_ => Seq(field -> encode(col(field), charset)))
  // try_to_binary, not unbase64: under ANSI, unbase64 of a malformed
  // payload throws IllegalArgumentException out of the scan and kills
  // the batch; the reference's DecodeBase64Builder fails the RECORD
  // (dropped / dead-lettered). Identical bytes for valid base64.
  def decodeBase64(field: String): ProjectionOp =
    Op.projection("decodeBase64")(_ =>
      Seq(field -> try_to_binary(col(field), lit("base64"))))
  def encodeBase64(field: String): ProjectionOp =
    Op.projection("encodeBase64")(_ =>
      Seq(field -> base64(col(field).cast("binary"))))

  /** `addCurrentTime` — nondeterministic by nature; mark tests accordingly. */
  def addCurrentTime(field: String = "timestamp"): ProjectionOp =
    Op.projection("addCurrentTime")(_ => Seq(field -> current_timestamp()))

  /** `addLocalHost`: hostname resolved ONCE on the driver and planted as a
    * literal (per-executor resolution would make sibling rows differ across
    * retries — the determinism caveat from SURVEY.md §2.B).
    */
  def addLocalHost(field: String = "host"): ProjectionOp = {
    val host = java.net.InetAddress.getLocalHost.getHostName
    Op.projection("addLocalHost")(_ => Seq(field -> lit(host)))
  }

  /** `generateUUID` (reference: config/cloudsolr.conf:57-61). Nondeterministic. */
  def generateUUID(field: String): ProjectionOp =
    Op.projection("generateUUID")(_ => Seq(field -> expr("uuid()")))

  /** Deterministic unique-key variant for testable/idempotent pipelines:
    * content-hash key (what `generateSolrSequenceKey` needs at scale — a
    * stable key makes sink writes idempotent across task retries).
    */
  def deterministicKey(field: String, from: Column*): ProjectionOp =
    Op.projection("deterministicKey")(_ =>
      Seq(field -> md5(concat_ws(" ", from: _*))))

  /** `convertTimestamp` (reference: config/cloudsolr.conf:43-51). */
  def convertTimestamp(field: String, inputFormats: Seq[String],
                       outputFormat: String, outputField: String,
                       inputTimezone: String = "UTC",
                       outputTimezone: String = "UTC"): ProjectionOp =
    Op.projection("convertTimestamp")(_ =>
      Seq(outputField ->
        TimeFunctions.convertTimestamp(col(field), inputFormats, outputFormat,
          inputTimezone, outputTimezone)))

  /** `grok`: extract named fields via a grok expression. */
  def grok(field: String, grokExpr: String): Op =
    Op("grok")(df => Grok.extract(df, col(field), grokExpr))

  /** `extractJsonTree` / `extractAvroTree`: recursively flatten a struct
    * column into one `prefix_path` column per leaf (plan-time schema walk —
    * emits plain `col(...)` projections, nothing per-row).
    */
  def extractTree(src: String, sep: String = "_"): Op =
    Op("extractTree") { df =>
      def leaves(prefix: String, dt: org.apache.spark.sql.types.DataType): Seq[(String, String)] =
        dt match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fields.toSeq.flatMap(f => leaves(s"$prefix.${f.name}", f.dataType))
          case _ => Seq(prefix -> prefix.replace(".", sep))
        }
      val cols = leaves(src, df.schema(src).dataType)
      cols.foldLeft(df) { case (d, (path, out)) => d.withColumn(out, col(path)) }
        .drop(src)
    }

  /** `logInfo`/`Metrics` hooks (SURVEY.md §2.F): semantics-free observation —
    * named accumulator metrics readable from QueryExecutionListener /
    * StreamingQueryListener, record stream unchanged.
    */
  def observeMetrics(name: String, metrics: Column*): Op =
    Op("observe") { df =>
      if (metrics.nonEmpty) df.observe(name, metrics.head, metrics.tail: _*)
      else df.observe(name, count(lit(1)).as("n_records"))
    }

  /** `extractURIComponents` (kite-core): decompose a URI field into
    * scheme/host/port/path/query/fragment columns via `parse_url`.
    */
  def extractUriComponents(field: String, prefix: String = "uri_"): ProjectionOp =
    Op.projection("extractURIComponents") { _ =>
      val u = col(field)
      // try_parse_url, not parse_url: ANSI parse_url throws INVALID_URL
      // on a malformed field and aborts the batch; the reference's
      // extractURIComponents fails the RECORD on URISyntaxException.
      // Null components keep bad records filterable.
      Seq(s"${prefix}scheme" ->
          regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1),
        s"${prefix}host" -> try_parse_url(u, lit("HOST")),
        s"${prefix}path" -> try_parse_url(u, lit("PATH")),
        s"${prefix}query" -> try_parse_url(u, lit("QUERY")),
        s"${prefix}fragment" -> try_parse_url(u, lit("REF")))
    }

  /** `extractURIQueryParameters`: one named query parameter → column. */
  def extractUriQueryParam(field: String, param: String, out: String): ProjectionOp =
    Op.projection("extractURIQueryParameters")(_ =>
      Seq(out -> try_parse_url(col(field), lit("QUERY"), lit(param))))

  /** `extractJsonPaths`-style projection with rename map (path → out field).
    * Operates on already-parsed struct columns; see ParserOps.readJson for
    * the string→struct step.
    */
  def extractPaths(src: String, paths: (String, String)*): ProjectionOp =
    Op.projection("extractPaths")(_ =>
      paths.map { case (path, out) => out -> col(s"$src.$path") })
}
