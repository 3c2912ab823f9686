package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Dimension-decode operator (SURVEY.md §2.5 D1–D15).
  *
  * The reference's signature computation: for a coded column, emit the
  * distinct non-null codes with a label decoded through an inline
  * `CASE` map, ordered by code
  * (`SELECT DISTINCT(col), CASE ... END AS name FROM t WHERE col IS
  * NOT NULL ORDER BY col`, e.g. `export_svg.py:275-293`).
  *
  * Scale notes: all dims of a fact come from ONE aggregate — one scan,
  * a map-side partial `collect_set` per code column, one exchange. The
  * driver then holds the distinct codes present, summed over the dims
  * (a few hundred for the FJC archive, at any fact size); each dim is a
  * local relation labelled by a literal `CASE WHEN` chain.
  */
object Dims {

  /** One dim: (code column, label column, code→label map). */
  type Spec = (String, String, Seq[(Any, String)])

  /** Chained `when` with NO `otherwise`: unmatched keys fall through
    * to NULL, preserving the reference's CASE-without-ELSE semantics
    * (`export_svg.py:290,544`). */
  def decode(c: Column, mapping: Seq[(Any, String)]): Column = {
    require(mapping.nonEmpty, "decode needs at least one mapping entry")
    mapping.tail.foldLeft(when(c === lit(mapping.head._1), lit(mapping.head._2))) {
      case (acc, (k, v)) => acc.when(c === lit(k), lit(v))
    }
  }

  /** One row: per code column, its ascending distinct non-null codes
    * (`collect_set` skips NULLs: the reference's `WHERE col IS NOT NULL`). */
  def codes(fact: DataFrame, codeCols: Seq[String]): DataFrame = {
    val aggs = codeCols.map(c => array_sort(collect_set(col(c))).as(c))
    fact.agg(aggs.head, aggs.tail: _*)
  }

  /** Every dim of `fact` from one collected [[codes]] row, each a
    * one-partition local relation in code order (one file per write). */
  def buildDims(fact: DataFrame, specs: Seq[Spec]): Seq[DataFrame] = {
    val row = codes(fact, specs.map(_._1)).head()
    specs.zipWithIndex.map { case ((codeCol, labelCol, mapping), i) =>
      fact.sparkSession.createDataFrame(row.getSeq[Any](i).map(Row(_)).asJava,
          StructType(Seq(fact.schema(codeCol))))
        .withColumn(labelCol, decode(col(codeCol), mapping))
        .coalesce(1)
    }
  }
}
