package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{Column, DataFrame}

import scala.jdk.CollectionConverters._

/** A pipeline operator: the Spark-native equivalent of one morphline command.
  *
  * The reference compiles a HOCON command array into a linked chain of
  * record-at-a-time `Command` objects (reference:
  * MorphlineTransform.java:166-195). Here every operator is a declarative
  * `DataFrame => DataFrame`; chaining ops composes one Catalyst logical plan,
  * so the whole chain analyzes/optimizes/codegens as a single unit —
  * predicates push down *through* op boundaries, which the reference's
  * interpreted chain can never do.
  */
trait Op extends (DataFrame => DataFrame) with Serializable {
  def name: String
}

/** A filter-shaped op that exposes its row predicate, so wrappers like the
  * Kite `not` command invert the predicate structurally (one plan, no
  * row-set diffing). The predicate is schema-aware — built against the
  * incoming frame, since Kite value-list matching depends on whether the
  * field is single- or multi-valued.
  */
trait PredicateOp extends Op {
  def predicateFor(df: DataFrame): Column
}

/** A command whose only effect is to add or replace named columns: it keeps
  * every row and reads nothing but the record it is given. Exposing its
  * ordered assignments lets the compiler fuse `if`/`tryRules` branches made
  * only of such commands into one guarded projection
  * ([[PipelineSpec]]) instead of a union of filtered copies. Each
  * assignment is built against `df`, the frame the command would see, and
  * may reference a column assigned before it.
  */
trait ProjectionOp extends Op {
  def assignmentsFor(df: DataFrame): Seq[(String, Column)]
  def apply(df: DataFrame): DataFrame = Op.project(df, assignmentsFor(df))
}

object Op {
  def apply(opName: String)(f: DataFrame => DataFrame): Op = new Op {
    val name: String = opName
    def apply(df: DataFrame): DataFrame = f(df)
  }

  /** A predicate command: keeps rows matching `cond` (SQL filter semantics —
    * null does not match).
    */
  def predicate(opName: String)(cond: DataFrame => Column): PredicateOp =
    new PredicateOp {
      val name: String = opName
      def predicateFor(df: DataFrame): Column = cond(df)
      def apply(df: DataFrame): DataFrame = df.filter(predicateFor(df))
    }

  /** A column-assigning command (see [[ProjectionOp]]). */
  def projection(opName: String)(
      assign: DataFrame => Seq[(String, Column)]): ProjectionOp =
    new ProjectionOp {
      val name: String = opName
      def assignmentsFor(df: DataFrame): Seq[(String, Column)] = assign(df)
    }

  /** Prefix of the branch-tag columns a fused `if`/`tryRules` assigns for
    * its one pass; [[project]] drops them again.
    */
  private[pipeline] val BranchTag = "__branch_"

  /** Apply assignments in order (each sees the ones before it), then drop
    * any branch-tag column they introduced.
    */
  private[pipeline] def project(df: DataFrame,
                                assignments: Seq[(String, Column)]): DataFrame = {
    val out = assignments.foldLeft(df) { case (d, (f, c)) => d.withColumn(f, c) }
    val tags = out.columns.filter(_.startsWith(BranchTag))
    if (tags.isEmpty) out else out.drop(tags.toSeq: _*)
  }

  /** `pipe` / `callParentPipe` (SURVEY.md §2.C): a nested pipeline as a
    * single op — function composition, one combined Catalyst plan.
    */
  def pipe(pipeline: Pipeline): Op = Op(s"pipe:${pipeline.id}")(pipeline.apply)
}

/** An ordered chain of ops — the morphline itself.
  *
  * Mirrors the reference's command-chain semantics (ordered, each command
  * feeds the next) without its execution model: composition here is plan
  * construction, not interpretation.
  */
final case class Pipeline(id: String, ops: Seq[Op]) {
  def apply(df: DataFrame): DataFrame = ops.foldLeft(df)((d, op) => op(d))
  def andThen(op: Op): Pipeline = copy(ops = ops :+ op)
}

/** Named-op registry: the Spark equivalent of the reference's
  * `CommandBuilder` SPI (`getNames()` + `build(...)`, e.g.
  * FromConnectDataBuilder.java:33-44) discovered via `importCommands` globs.
  * Ops register under a name; a builder gets the command's parsed config
  * block.
  */
final class OpRegistry {
  private val builders = scala.collection.mutable.Map.empty[String, Conf => Op]

  def register(name: String)(builder: Conf => Op): this.type = {
    builders(name) = builder; this
  }

  def build(name: String, config: Conf = Conf.empty): Op =
    builders.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown op '$name'; known: ${builders.keys.toSeq.sorted.mkString(", ")}")
    )(config)

  def names: Seq[String] = builders.keys.toSeq.sorted
}

/** One command's config block as [[Hocon]] parsed it — the `{ ... }` after
  * the command name, keys in config order. Builders read it only through
  * these accessors.
  */
final class Conf(val node: JsonNode) extends Serializable {
  private def scalar(key: String, v: JsonNode): String = {
    require(v.isValueNode, s"config '$key' must be a single value, got: $v")
    v.asText
  }

  /** A single value as text; None when the key is absent. */
  def get(key: String): Option[String] = Option(node.get(key)).map(scalar(key, _))

  def apply(key: String): String =
    get(key).getOrElse(throw new IllegalArgumentException(s"missing config '$key'"))

  def getOrElse(key: String, default: => String): String = get(key).getOrElse(default)

  def contains(key: String): Boolean = node.has(key)

  /** A list: an array's elements whole, or a scalar split on ','. */
  def list(key: String): Seq[String] = Option(node.get(key)) match {
    case Some(v) if v.isArray => v.elements.asScala.map(scalar(key, _)).toSeq
    case _ => apply(key).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def keys: Seq[String] = node.fieldNames.asScala.toSeq

  /** The single-valued entries, in config order. */
  def entries: Seq[(String, String)] = keys.map(k => k -> apply(k))

  /** A nested block (`paths { ... }`, `solrLocator : ${SOLR_LOCATOR}`). */
  def block(key: String): Option[Conf] = Option(node.get(key)).map { v =>
    require(v.isObject, s"config '$key' must be a block, got: $v")
    new Conf(v)
  }
}

object Conf {
  val empty: Conf = new Conf(JsonNodeFactory.instance.objectNode())
}
