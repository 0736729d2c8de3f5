package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality tests — the Spark re-expression of the reference's
  * testing framework (src/framework/testing.py:28-150,
  * polars_utils.py:96-170: unique / not_null / accepted_values / range).
  *
  * Unlike the reference, which issues one warehouse query per test,
  * every not_null / accepted_values / range check compiles into a
  * single aggregate pass over the table (conditional counts). Each
  * `unique` check is one more aggregation (count vs count-distinct of
  * its column) and each `relationships` check one anti-join count.
  */
object Quality {

  sealed trait Check { def name: String }
  final case class NotNull(column: String) extends Check {
    val name = s"not_null_$column"
  }
  final case class AcceptedValues(column: String, values: Seq[String]) extends Check {
    val name = s"accepted_values_$column"
  }
  final case class RangeCheck(column: String, min: Double, max: Double) extends Check {
    val name = s"range_$column"
  }
  final case class Unique(column: String) extends Check {
    val name = s"unique_$column"
  }
  /** dbt's `relationships` (referential-integrity) test: every non-NULL
    * value of `column` must exist in `refModel.refColumn` (NULL child
    * values pass — dbt semantics; not_null is its own check). */
  final case class Relationships(column: String, refModel: String,
      refColumn: String) extends Check {
    val name = s"relationships_${column}__${refModel}_$refColumn"
  }

  final case class CheckResult(check: String, failures: Long) {
    def passed: Boolean = failures == 0
  }

  /** Run all checks; returns one CheckResult per check. `resolve` maps
    * a referenced model name to its DataFrame for [[Relationships]]
    * checks (ModelRunner passes readModel; callers without a warehouse
    * can pass any catalog lookup). Each relationships check is ONE
    * anti-join count — broadcast when the parent's distinct key set is
    * small, the usual FK shape. */
  def run(df: DataFrame, checks: Seq[Check],
      resolve: String => DataFrame = t =>
        throw new graft.model.ConfigError(
          s"relationships test references model '$t' but no resolver " +
            "was provided")): Seq[CheckResult] = {
    val rowChecks = checks.collect {
      case c: NotNull =>
        c.name -> sum(when(col(c.column).isNull, 1L).otherwise(0L)).as(c.name)
      case c: AcceptedValues =>
        c.name -> sum(when(!col(c.column).isin(c.values: _*) || col(c.column).isNull, 1L)
          .otherwise(0L)).as(c.name)
      case c: RangeCheck =>
        c.name -> sum(when(col(c.column) < c.min || col(c.column) > c.max, 1L)
          .otherwise(0L)).as(c.name)
    }
    val uniqueChecks = checks.collect { case c: Unique => c }

    val rowResults: Seq[CheckResult] =
      if (rowChecks.isEmpty) Nil
      else {
        val row = df.agg(rowChecks.head._2, rowChecks.tail.map(_._2): _*).head()
        rowChecks.map { case (name, _) =>
          CheckResult(name, Option(row.getAs[Any](name)).fold(0L)(_.toString.toLong))
        }
      }

    // duplicate count = total - distinct: one aggregation per unique check
    val uniqueResults = uniqueChecks.map { c =>
      val counts = df.agg(
        count(col(c.column)).as("n"),
        countDistinct(col(c.column)).as("d")).head()
      CheckResult(c.name, counts.getAs[Long]("n") - counts.getAs[Long]("d"))
    }

    val relResults = checks.collect { case c: Relationships =>
      val parent = resolve(c.refModel)
        .select(col(c.refColumn).as("__pk")).distinct()
      val orphans = df.filter(col(c.column).isNotNull)
        .join(parent, col(c.column) === col("__pk"), "left_anti")
        .count()
      CheckResult(c.name, orphans)
    }

    rowResults ++ uniqueResults ++ relResults
  }

  /** All checks as a single-row DataFrame (for oracle comparison). */
  def asRow(df: DataFrame, checks: Seq[Check],
      resolve: String => DataFrame = t =>
        throw new graft.model.ConfigError(
          s"relationships test references model '$t' but no resolver " +
            "was provided")): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val results = run(df, checks, resolve)
    results.map(r => (r.check, r.failures)).toDF("check_name", "failures")
      .orderBy("check_name")
  }
}
