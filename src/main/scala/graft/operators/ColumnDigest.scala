package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column divergence localizer: collapses each column of a result
  * frame to ONE md5 digest of its values in key order, so a cross-engine
  * hash mismatch on the full row surface can be narrowed to the exact
  * column without ever shipping the values through the comparing
  * harness's own normalization. Both engines compute the digest
  * IN-ENGINE; the harness only compares short hex strings.
  *
  * Rendering contract (must match [[oracleDigestSql]] exactly):
  * integers/strings via plain CAST-to-string (identical text on both
  * engines); doubles must be pre-rendered by the caller as a scaled
  * BIGINT (`floor(x * 10^d + 0.5)` — the q2_min_cost quantization) since
  * raw float-to-string differs across engines.
  *
  * Scale shape: one narrow aggregation per column over the (typically
  * doc-sized, already-computed) result frame — the ordered fold is a
  * sort_array over a collected (key, rendered) list, bounded by the
  * result's row count, never the corpus.
  */
object ColumnDigest {

  /** One md5 per rendered column: (col_name, digest), ordered by
    * col_name. `renders` supplies the string rendering for columns where
    * plain CAST is engine-divergent (doubles); all others default to
    * `col(name).cast("string")`.
    */
  def digests(df0: DataFrame, orderCol: String, cols: Seq[String],
      renders: Map[String, Column] = Map.empty): DataFrame = {
    // fence the result frame ONCE: each per-column branch references it,
    // and without the checkpoint every branch re-plans (and re-executes)
    // the full upstream chain — N× the source query's exchanges
    val df = Fence(df0)
    val perCol = cols.map { name =>
      val rendered = renders.getOrElse(name, col(name).cast("string"))
      df.select(col(orderCol).as("k"), rendered.as("v"))
        .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("k"), col("v")))),
          x => x.getField("v")), "|")).as("digest"))
        .select(lit(name).as("col_name"), col("digest"))
    }
    perCol.reduce(_.unionByName(_)).orderBy("col_name")
  }

  /** The DuckDB twin: given an inner SELECT producing the same frame,
    * emits one `string_agg ... ORDER BY` digest row per (name, sqlExpr)
    * pair. sqlExpr is the rendering expression over the inner frame's
    * columns (e.g. `CAST(doc_id AS VARCHAR)`).
    */
  def oracleDigestSql(innerSql: String, orderCol: String,
      cols: Seq[(String, String)]): String = {
    val rows = cols.map { case (name, expr) =>
      s"SELECT '$name' AS col_name, md5(string_agg($expr, '|' ORDER BY $orderCol)) AS digest FROM out"
    }
    s"WITH out AS ($innerSql)\n" + rows.mkString("\nUNION ALL ") +
      "\nORDER BY col_name"
  }
}
