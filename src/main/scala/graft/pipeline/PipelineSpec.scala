package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ops.ControlOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr, lit, when}

import scala.jdk.CollectionConverters._

/** Declarative pipeline specs: a JSON document compiled to a [[Pipeline]]
  * through the [[StandardOps]] registry — the engine's equivalent of the
  * reference's morphline config file (HOCON is a JSON superset, so a
  * morphline block converts mechanically to this shape):
  *
  * {{{
  * { "id": "readjson",
  *   "commands": [
  *     { "command": "readJson", "field": "value",
  *       "schema": "firstName STRING, age INT" },
  *     { "command": "extractJsonPaths", "paths": "first_name:firstName" } ] }
  * }}}
  *
  * Compilation happens once on the driver (MorphlineTransform.java:166-195
  * analogue); the result is a single composed Catalyst plan.
  */
object PipelineSpec {

  private val mapper = new ObjectMapper()

  /** Compile a morphline out of a real HOCON config file — the reference's
    * actual query language (`morphlines : [ { id, importCommands, commands :
    * [ {name {config}} ] } ]`, e.g. TESTR/identity.conf) — parsed by
    * [[Hocon]]. `importCommands` globs are accepted and ignored (command
    * resolution goes through the registry — the SPI equivalent).
    *
    * Morphline-default field wiring applies: parsers read from and write to
    * `_attachment_body` (the reference's Fields.ATTACHMENT_BODY) unless the
    * config says otherwise, and each `log*` command gets a unique
    * observation name (Spark requires observation names unique per query).
    */
  def fromHocon(hocon: String, morphlineId: String,
                registry: OpRegistry = StandardOps.registry,
                settings: Map[String, String] = Map.empty,
                env: String => Option[String] = sys.env.get): Pipeline = {
    // The connector's override channel (MorphlineSinkTask.java:108,119-127):
    // `morphlines.*` connector settings parse into a config tree that wins
    // over the file (`override.withFallback(fileConfig)`), then `${path}` /
    // `${?path}` substitutions resolve against the merged root with env
    // fallback — so `morphlines.collection=c1` satisfies cloudsolr.conf's
    // `collection : ${collection}`.
    val overrides = settings.collect {
      case (k, v) if k.startsWith("morphlines.") =>
        k.stripPrefix("morphlines.") -> v
    }
    val root = Hocon.resolve(Hocon.parse(hocon), overrides, env)
    val morphlines = Option(root.get("morphlines"))
      .filter(_.isArray).map(_.elements.asScala.toSeq)
      .getOrElse(throw new IllegalArgumentException("no 'morphlines' array"))
    val m = morphlines
      .find(c => Option(c.get("id")).exists(_.asText == morphlineId))
      .getOrElse(throw new IllegalArgumentException(
        s"no morphline '$morphlineId'; available: " +
          morphlines.flatMap(c => Option(c.get("id")).map(_.asText))
            .mkString(", ")))

    // arrays join with the unit separator so elements holding commas
    // survive the string carrier (StandardOps.splitList splits them back)
    def scalarOf(v: JsonNode): String =
      if (v.isArray) v.elements.asScala.map(scalarOf).mkString("\u001F")
      else v.asText
    // nested blocks (paths, mappings) flatten to the registry's "k:v,..."
    def flatten(v: JsonNode): String =
      if (v.isObject)
        v.properties.asScala.toSeq // Set → Seq first: keep config order
          .map(e => s"${e.getKey}:${scalarOf(e.getValue)}")
          .mkString(",")
      else scalarOf(v)

    // Morphline parsers replace the attachment body in place
    // (Fields.ATTACHMENT_BODY); the JSON-spec path defaults to named output
    // columns instead, so the in-place defaults are injected only here.
    val inPlace = Map(
      "readJson" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "readCSV" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "readAvro" -> Map("field" -> "_attachment_body",
        "outputField" -> "_attachment_body"),
      "extractJsonPaths" -> Map("field" -> "_attachment_body"),
      "extractAvroPaths" -> Map("field" -> "_attachment_body"),
      "enrichJson" -> Map("valueField" -> "_attachment_body"))

    val commands = Option(m.get("commands")).filter(_.isArray)
      .getOrElse(throw new IllegalArgumentException(
        s"morphline '$morphlineId' has no commands array"))

    // counter across ALL nesting levels so log observation names stay unique
    // even when `if`/`tryRules` branches each carry their own log commands
    val cmdSeq = new java.util.concurrent.atomic.AtomicInteger(0)

    def buildOps(arr: JsonNode): Seq[Op] = {
      require(arr != null && arr.isArray, s"expected a commands array, got: $arr")
      arr.elements.asScala.toSeq.map(buildOne)
    }

    def buildOne(cmd: JsonNode): Op = {
      val idx = cmdSeq.getAndIncrement()
      val entries = cmd.properties.asScala.toSeq
      require(entries.size == 1, s"morphline command must have one key: $cmd")
      val (name, cfgVal) = (entries.head.getKey, entries.head.getValue)
      // Kite `not { <command> {...} }`: the value is itself a one-key
      // command block. The legacy scalar field/value form falls through to
      // the registry below.
      val negated = Some(cfgVal)
        .filter(v => v.isObject && v.size() == 1 && !v.has("field"))
      controlFlow(name, cfgVal, idx, buildOps, negated.map(buildOne))
        .getOrElse {
          val raw: Map[String, String] =
            if (cfgVal.isObject)
              cfgVal.properties.asScala.flatMap { e =>
                // object-valued configs (solrLocator, properties blocks) are
                // exposed both flattened ("k:v,...") and as dotted keys
                // ("solrLocator.collection") so ops can read sub-fields
                // without re-parsing
                val dotted =
                  if (e.getValue.isObject)
                    e.getValue.properties.asScala.toSeq.map(s =>
                      // flatten, not scalarOf: a deeper object-valued
                      // sub-entry flattens to "k:v,..." instead of asText's ""
                      s"${e.getKey}.${s.getKey}" -> flatten(s.getValue))
                  else Nil
                (e.getKey -> flatten(e.getValue)) +: dotted
              }.toMap
            else Map.empty
          val cfg0 = inPlace.getOrElse(name, Map.empty) ++ raw
          val cfg =
            if (name.startsWith("log") && !cfg0.contains("name"))
              cfg0 + ("name" -> s"${name}_$idx") // unique observation names
            else cfg0
          registry.build(name, cfg)
        }
    }
    Pipeline(morphlineId, connectEnvelopeAliases +: buildOps(commands))
  }

  /** The control-flow commands both spellings share, compiled from their
    * block `cfg`: `if`, `tryRules`, `pipe`, and `not` when `negated` holds
    * the compiled command it wraps. `commands` compiles a nested command
    * array; `seq` numbers the command. None for any other command.
    */
  private def controlFlow(name: String, cfg: JsonNode, seq: Int,
                          commands: JsonNode => Seq[Op],
                          negated: => Option[Op]): Option[Op] = {
    def condition(block: JsonNode, what: String): Column =
      expr(Option(block.get("condition")).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"$what needs a 'condition'")))
    def branch(key: String): Option[Seq[Op]] =
      Option(cfg.get(key)).map(commands)
    name match {
      case "if" =>
        Some(branching("if", Seq(condition(cfg, "if")),
          Seq(branch("then").getOrElse(Nil)),
          Some(branch("else").getOrElse(Nil)), seq))
      case "tryRules" =>
        val rules = Option(cfg.get("rules")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            "tryRules needs a 'rules' array"))
          .elements.asScala.toSeq
        Some(branching("tryRules", rules.map(condition(_, "a tryRules rule")),
          rules.map(r => commands(r.get("commands"))), branch("catchAll"),
          seq))
      case "pipe" =>
        Some(Op.pipe(Pipeline(
          Option(cfg.get("id")).map(_.asText).getOrElse("nested"),
          commands(cfg.get("commands")))))
      case "not" => negated.map(ControlOps.notOp)
      case _ => None
    }
  }

  /** First-match branching: each row takes the first branch whose
    * condition holds (null counts as false), else `default` when there is
    * one; unmatched rows are dropped. An `if` is the one-condition case
    * whose `else` is the default (an absent `else` is an empty branch).
    *
    * When every branch only assigns columns ([[ProjectionOp]]), the
    * branches fuse into one pass: a branch-tag column holds the index of
    * the branch each row takes, and every assignment of branch `i` becomes
    * `when(tag === i, value)` over the column's current value (null when
    * the column is new). Each branch's assignments are built against its
    * own view — the input plus that branch's earlier assignments — so a
    * `@{field}` a sibling branch sets still renders empty. Columns come out
    * in the order the union form's `unionByName` gives them. A fused
    * branching that keeps every row is itself a [[ProjectionOp]], so
    * nested branching fuses too. Any other branch keeps the union of
    * filtered copies (`ControlOps`), which re-runs the upstream plan once
    * per branch.
    */
  private def branching(name: String, conds: Seq[Column],
                        branches: Seq[Seq[Op]], default: Option[Seq[Op]],
                        seq: Int): Op = {
    val all = branches ++ default
    val projections = all.map(_.collect { case p: ProjectionOp => p })
    if (projections.flatten.size == all.flatten.size)
      fused(name, s"${Op.BranchTag}$seq", conds, projections,
        keepsUnmatched = default.isDefined)
    else {
      def fold(ops: Seq[Op]): DataFrame => DataFrame =
        df => ops.foldLeft(df)((d, op) => op(d))
      (name, default) match {
        case ("if", Some(elseOps)) =>
          ControlOps.ifThenElse(conds.head, fold(branches.head), fold(elseOps))
        case _ =>
          ControlOps.tryRules(conds.zip(branches.map(fold)), default.map(fold))
      }
    }
  }

  /** The one-pass form of [[branching]]; `branches` holds the default last
    * when `keepsUnmatched`.
    */
  private def fused(name: String, tag: String, conds: Seq[Column],
                    branches: Seq[Seq[ProjectionOp]],
                    keepsUnmatched: Boolean): Op = {
    val unmatched = lit(if (keepsUnmatched) conds.size else -1)
    // a null condition does not match (CASE WHEN semantics)
    val tagValue = conds.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (w, (c, i)) =>
        Some(w.fold(when(c, i))(_.when(c, i)))
      }
      .fold(unmatched)(_.otherwise(unmatched))
    def guarded(df: DataFrame): Seq[(String, Column)] = {
      // column names match the way the analyzer matches them
      val caseSensitive =
        df.sparkSession.conf.get("spark.sql.caseSensitive", "false").toBoolean
      def key(f: String) = if (caseSensitive) f else f.toLowerCase(java.util.Locale.ROOT)
      var present = df.columns.map(key).toSet
      branches.zipWithIndex.flatMap { case (ops, i) =>
        var view = df
        ops.flatMap { op =>
          val own = op.assignmentsFor(view)
          view = Op.project(view, own)
          own.map { case (f, c) =>
            val taken = when(col(tag) === i, c)
            val out =
              if (present(key(f))) taken.otherwise(col(s"`${f.replace("`", "``")}`"))
              else taken
            present += key(f)
            f -> out
          }
        }
      }
    }
    if (keepsUnmatched)
      Op.projection(name)(df => (tag -> tagValue) +: guarded(df))
    else Op(name) { df =>
      Op.project(df.withColumn(tag, tagValue).filter(col(tag) >= 0), guarded(df))
    }
  }

  /** The reference's envelope field names (`_value`, `_topic`, …;
    * MorphlineTransform.java:130-150) aliased onto the Spark Kafka-source
    * column names, so `valueField : _value` and `@{_topic}` interpolations
    * in a real `.conf` resolve. Zero-cost projections, added only when the
    * unprefixed column exists.
    */
  private def connectEnvelopeAliases: Op = Op("connectEnvelope") { df =>
    import org.apache.spark.sql.functions.col
    Seq("value" -> "_value", "key" -> "_key", "topic" -> "_topic",
      "partition" -> "_kafkaPartition", "offset" -> "_kafkaOffset",
      "timestamp" -> "_timestamp")
      .foldLeft(df) { case (d, (src, dst)) =>
        if (d.columns.contains(src) && !d.columns.contains(dst))
          d.withColumn(dst, col(src))
        else d
      }
  }

  /** [[fromHocon]] over a config file path — the `morphlineFile@morphlineId`
    * entry point (MorphlineSinkTask.java:96-110).
    */
  def fromHoconFile(path: String, morphlineId: String,
                    registry: OpRegistry = StandardOps.registry,
                    settings: Map[String, String] = Map.empty,
                    env: String => Option[String] = sys.env.get): Pipeline =
    fromHocon(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"), morphlineId, registry,
      settings, env)

  def fromJson(json: String, registry: OpRegistry = StandardOps.registry): Pipeline = {
    val root = mapper.readTree(json)
    val id = Option(root.get("id")).map(_.asText).getOrElse("pipeline")
    val cmdSeq = new java.util.concurrent.atomic.AtomicInteger(0)

    def compileCommands(commands: JsonNode): Seq[Op] = {
      require(commands != null && commands.isArray,
        "pipeline spec needs a 'commands' array")
      commands.elements.asScala.toSeq.map(compileOne)
    }

    def compileOne(node: JsonNode): Op = {
      val name = Option(node.get("command")).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"command entry missing 'command': $node"))
      // JSON spelling of the Kite nested `not`:
      // {"command": "not", "nested": {"command": "equals", ...}}
      controlFlow(name, node, cmdSeq.getAndIncrement(), compileCommands,
        Option(node.get("nested")).map(compileOne))
        .getOrElse {
          val cfg = node.properties.asScala
            .filter(_.getKey != "command")
            .map(e => e.getKey -> (
              // arrays join like the HOCON flattener — unit separator, so
              // a Kite value-list element containing a comma is not mangled
              // (asText on an array node is "" — would drop the list)
              if (e.getValue.isArray)
                e.getValue.elements.asScala.map(_.asText).mkString("\u001F")
              else e.getValue.asText))
            .toMap
          registry.build(name, cfg)
        }
    }
    Pipeline(id, compileCommands(root.get("commands")))
  }
}
