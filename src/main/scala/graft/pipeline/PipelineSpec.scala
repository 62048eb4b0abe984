package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.ops.ControlOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr, lit, when}

import scala.jdk.CollectionConverters._

/** Morphline compilation: a HOCON morphline config — the reference's query
  * language — compiled to a [[Pipeline]] through an [[OpRegistry]]:
  *
  * {{{
  * morphlines : [
  *   { id : readjson
  *     commands : [
  *       { readJson { schema : "firstName STRING, age INT" } }
  *       { extractJsonPaths { paths : { first_name : /firstName } } }
  *     ] } ]
  * }}}
  *
  * Each command's builder gets its parsed config block ([[Conf]]).
  * Compilation happens once on the driver (MorphlineTransform.java:166-195
  * analogue); the result is a single composed Catalyst plan.
  */
object PipelineSpec {

  /** Compile a morphline out of a real HOCON config file — the reference's
    * actual query language (`morphlines : [ { id, importCommands, commands :
    * [ {name {config}} ] } ]`, e.g. TESTR/identity.conf) — parsed by
    * [[Hocon]]. `importCommands` globs are accepted and ignored (command
    * resolution goes through the registry — the SPI equivalent). A
    * strict-JSON document compiles too: HOCON is a JSON superset.
    *
    * `if`, `tryRules`, `pipe` and the nested `not` compile here; every
    * other command is built by the registry. Each `log*` command gets a
    * unique observation name (Spark requires observation names unique per
    * query).
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
      val (name, block) = (entries.head.getKey, entries.head.getValue)
      def condition(b: JsonNode, what: String): Column =
        expr(Option(b.get("condition")).map(_.asText).getOrElse(
          throw new IllegalArgumentException(s"$what needs a 'condition'")))
      def branch(key: String): Option[Seq[Op]] =
        Option(block.get(key)).map(buildOps)
      name match {
        case "if" =>
          branching("if", Seq(condition(block, "if")),
            Seq(branch("then").getOrElse(Nil)),
            Some(branch("else").getOrElse(Nil)), idx)
        case "tryRules" =>
          val rules = Option(block.get("rules")).filter(_.isArray)
            .getOrElse(throw new IllegalArgumentException(
              "tryRules needs a 'rules' array"))
            .elements.asScala.toSeq
          branching("tryRules", rules.map(condition(_, "a tryRules rule")),
            rules.map(r => buildOps(r.get("commands"))), branch("catchAll"), idx)
        case "pipe" =>
          Op.pipe(Pipeline(
            Option(block.get("id")).map(_.asText).getOrElse("nested"),
            buildOps(block.get("commands"))))
        // Kite `not { <command> {...} }`: the block is itself a one-key
        // command. The scalar field/value form goes to the registry.
        case "not" if block.isObject && block.size == 1 && !block.has("field") =>
          ControlOps.notOp(buildOne(block))
        case _ =>
          registry.build(name, block match {
            case o: ObjectNode if name.startsWith("log") && !o.has("name") =>
              new Conf(o.deepCopy().put("name", s"${name}_$idx"))
            case o: ObjectNode => new Conf(o)
            case _ => Conf.empty
          })
      }
    }
    Pipeline(morphlineId, connectEnvelopeAliases +: buildOps(commands))
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
}
