package graft.ops

import graft.pipeline.Op
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Filters / predicates / control flow (SURVEY.md §2.C). Record-level
  * routing compiles to `filter`/`when` — narrow, codegen'd, no shuffle.
  */
object ControlOps {

  /** `dropRecord` under a condition (reference testDrop semantics:
    * transform returns null → record dropped). Unconditional drop is
    * `filter(lit(false))` at that chain point.
    */
  def dropWhere(cond: Column): Op =
    // null-cond rows do NOT match the drop condition and must be kept
    // (!NULL is NULL and would silently drop them).
    Op("dropRecord")(df => df.filter(!coalesce(cond, lit(false))))

  /** Predicate commands `equals` / `contains` / `not`: record passes iff the
    * predicate holds.
    */
  def keepWhere(cond: Column): graft.pipeline.PredicateOp =
    Op.predicate("keepWhere")(_ => cond)
  def fieldEquals(field: String, value: Any): graft.pipeline.PredicateOp =
    Op.predicate("equals")(_ => col(field) === lit(value))
  def fieldContains(field: String, value: Any): graft.pipeline.PredicateOp =
    Op.predicate("contains")(_ => array_contains(col(field), value))

  private def isArrayField(df: DataFrame, field: String): Boolean =
    df.schema.fields.find(_.name == field)
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])

  /** Kite-stdlib `equals` shape: a map of field → expected value list;
    * the record passes iff EVERY named field's values equal the given
    * list (kite EqualsCommand: `List.equals` per entry). A multi-valued
    * field compares as array equality; a single-valued field matches a
    * 1-element list by scalar equality and can never equal a longer list.
    */
  def kiteEquals(entries: Seq[(String, Seq[String])]): graft.pipeline.PredicateOp =
    Op.predicate("equals") { df =>
      require(entries.nonEmpty, "equals needs at least one field : value entry")
      entries.map { case (f, vs) =>
        if (isArrayField(df, f)) col(f) === array(vs.map(lit): _*)
        else if (vs.size == 1) col(f) === lit(vs.head)
        else lit(false) // single-valued field vs multi-value list: List.equals fails
      }.reduce(_ && _)
    }

  /** Kite-stdlib `contains` shape: field → value list; the record passes iff
    * the field's values and the given values intersect — the mimetype-
    * dispatch idiom (`contains { _attachment_mimetype : [avro/binary] }`).
    */
  def kiteContains(entries: Seq[(String, Seq[String])]): graft.pipeline.PredicateOp =
    Op.predicate("contains") { df =>
      require(entries.nonEmpty, "contains needs at least one field : values entry")
      entries.map { case (f, vs) =>
        if (isArrayField(df, f))
          vs.map(v => array_contains(col(f), v)).reduce(_ || _)
        else col(f).isin(vs: _*)
      }.reduce(_ && _)
    }

  /** Kite-stdlib `not`: wraps a nested command and inverts its per-record
    * success. The nested command must be predicate-shaped (a filter) — a
    * transform has no per-record success to invert in a batch plan. Rows
    * where the nested predicate is null (missing field) did NOT match it,
    * so `not` keeps them (kite: nested command fails → not succeeds).
    */
  def notOp(nested: Op): graft.pipeline.PredicateOp = nested match {
    case p: graft.pipeline.PredicateOp =>
      Op.predicate(s"not:${nested.name}")(df =>
        !coalesce(p.predicateFor(df), lit(false)))
    case other => throw new IllegalArgumentException(
      s"not can only wrap a predicate command (equals/contains/...), got '${other.name}'")
  }

  /** `if { conditions then else }` as two filtered copies of the input,
    * each run through its branch and unioned (no shuffle — union is narrow,
    * but each copy re-runs the plan upstream of it). A null condition takes
    * `else`. The morphline compiler fuses branches that only assign
    * columns into one pass (`PipelineSpec`); this form serves opaque
    * branch functions and branches holding record-level commands.
    */
  def ifThenElse(cond: Column, thenOps: DataFrame => DataFrame,
                 elseOps: DataFrame => DataFrame): Op =
    Op("if") { df =>
      thenOps(df.filter(cond)).unionByName(elseOps(df.filter(!cond || cond.isNull)),
        allowMissingColumns = true)
    }

  /** `tryRules`: first-matching-rule dispatch. Each record is routed to the
    * first rule whose condition holds (null counts as false), else to
    * `catchAll` when given, and is dropped otherwise. Built like
    * [[ifThenElse]]: one filtered copy per rule, unioned, for opaque and
    * record-level branches; the morphline compiler fuses column-only rules
    * into one pass.
    */
  def tryRules(rules: Seq[(Column, DataFrame => DataFrame)],
               catchAll: Option[DataFrame => DataFrame] = None): Op =
    Op("tryRules") { df =>
      // Rule i gets records matching cond_i and none of cond_0..i-1.
      val guarded = rules.zipWithIndex.map { case ((cond, f), i) =>
        val prior = rules.take(i).map(_._1)
        val only = prior.foldLeft(cond) { (c, p) =>
          c && !coalesce(p, lit(false))
        }
        f(df.filter(only))
      }
      val rest = catchAll.map { f =>
        val none = rules.map(_._1).foldLeft(lit(true)) { (c, p) =>
          c && !coalesce(p, lit(false))
        }
        f(df.filter(none))
      }
      (guarded ++ rest).reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** `sample`: pass records with probability p (nondeterministic). */
  def sample(p: Double, seed: Long = 42L): Op =
    Op("sample")(df => df.sample(withReplacement = false, p, seed))

  /** Deterministic sample for reproducible pipelines: keep rows where
    * `keyCol % mod == bucket`. At 100 TB this beats `sample()` because it is
    * stable across retries and re-runs (idempotent downstream writes).
    */
  def deterministicSample(keyCol: Column, mod: Int, bucket: Int = 0): Op =
    Op("deterministicSample")(df => df.filter(pmod(keyCol, lit(mod)) === bucket))

  /** `head`: pass only first N records. Batch-only (a global limit is not
    * streamable; SURVEY.md §7.4) — the streaming runner rejects it.
    */
  def head(n: Int): Op = Op("head")(df => df.limit(n))

  /** SMT take-first semantics (MorphlineTransform.java:123): when a parser
    * fans 1→N, keep only the first output record per input key.
    */
  def takeFirstPer(keyCols: Seq[String], orderBy: Column): Op =
    Op("takeFirstPer") { df =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy)
      df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }

  /** Failure-channel policy (SURVEY.md §2.C failure semantics): rows failing
    * `validCond` are split to a dead-letter DataFrame instead of killing the
    * job — the Spark-side equivalent of "command returns false → record
    * logged + skipped".
    */
  def deadLetterSplit(df: DataFrame, validCond: Column): (DataFrame, DataFrame) =
    (df.filter(validCond), df.filter(!coalesce(validCond, lit(false))))
}
