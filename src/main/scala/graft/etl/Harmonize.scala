package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Schema-conditional source harmonizer — the reference's `add_block`
  * (main.py:208-269), the signature semantic of the pipeline: each source
  * arrives with a different subset of columns and the harmonizer
  * conditionally renames / derives / defaults until every block exposes the
  * same output schema, so the blocks can be unioned (main.py:289-303).
  *
  * In Spark this is driver-side plan construction over `df.columns`
  * (SURVEY.md §1.2) — no UDFs, no reflection at execution time.
  */
object Harmonize {

  /** One output column: taken from the first present source column (after
    * coercion), else defaulted. */
  case class Field(
      out: String,
      from: Seq[String] = Nil,                // candidate source columns, first present wins
      coerce: Column => Column = identity,    // applied when a source column is found
      default: Column = lit(null))            // used when none present

  case class Spec(fields: Seq[Field])

  /** Apply a spec: for each field pick the first present candidate (or the
    * output name itself), coerce it, otherwise default — then project to the
    * spec's column set in order. Mirrors main.py:208-269's
    * rename-if-present / default-if-absent ladder. */
  def apply(df: DataFrame, spec: Spec): DataFrame = {
    // case-insensitive probe, matching Spark's (default) case-insensitive
    // resolution — a case-variant header must rename, not silently fall to
    // the field default
    val have = df.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    val cols = spec.fields.map { f =>
      (f.from :+ f.out)
        .flatMap(n => have.get(n.toLowerCase(java.util.Locale.ROOT)))
        .headOption match {
        case Some(src) => f.coerce(col(src)).as(f.out)
        case None      => f.default.as(f.out)
      }
    }
    df.select(cols: _*)
  }

  /** Union harmonized blocks by name; empty input list -> None, the
    * caller's cue for the reference's empty-frame fallback
    * (main.py:292-303). */
  def unionBlocks(blocks: Seq[DataFrame]): Option[DataFrame] =
    blocks.reduceOption(_.unionByName(_, allowMissingColumns = true))
}
