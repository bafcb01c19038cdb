package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.Assertions._

import graft.index.IndexTables

/** Whole-table parity of two builds: every column of every row of the
  * index (blobs, positions, blocks with their maxima, rowMax), termStats,
  * norms and docs, plus the corpus stats. Doubles compare exactly: the
  * builds under test share one tf-norm formulation. */
object IndexParity {

  /** A table's column names and its rows in comparable form, sorted. */
  final case class Table(columns: Seq[String], rows: Seq[Any])

  /** The collected tables of a build, by name. */
  type Snapshot = Seq[(String, Any)]

  /** Comparable form of a cell: blobs as hex, structs and arrays as
    * sequences. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.map(canon)
    case x => x
  }

  private def table(df: DataFrame): Table =
    Table(df.columns.toSeq, df.collect().toSeq.map(canon).sortBy(_.toString))

  def snapshot(t: IndexTables): Snapshot = Seq(
    "stats" -> t.stats,
    "index" -> table(t.index),
    "termStats" -> table(t.termStats),
    "norms" -> table(t.norms),
    "docs" -> table(t.docs))

  def assertSame(actual: Snapshot, expected: Snapshot): Unit =
    actual.zip(expected).foreach {
      case ((name, Table(ac, a)), (_, Table(ec, e))) =>
        assert(ac == ec, s"$name columns differ")
        assert(a == e, s"$name: ${a.size} vs ${e.size} rows; only in " +
          s"actual ${a.diff(e).take(3)}; only in expected ${e.diff(a).take(3)}")
      case ((name, a), (_, e)) => assert(a == e, name)
    }

  def assertSameTables(actual: IndexTables, expected: IndexTables): Unit =
    assertSame(snapshot(actual), snapshot(expected))
}
