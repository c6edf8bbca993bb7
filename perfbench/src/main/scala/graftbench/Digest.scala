package graftbench

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timed action and the result check share one definition.
  *
  * A query result is reduced to (rows, wrapping sum of row hashes). Each
  * row hash covers every output column, cast to a type both engines
  * agree on, so the action computes the whole result the way a writer
  * would; unlike `count()`, nothing lets Catalyst prune columns,
  * aggregate expressions or the final sort. The same reduction of the
  * DuckDB oracle's result gives the expected digest.
  */
object Digest {

  /** 'f' fractional, 'i' integral, 's' anything else (compared as text). */
  def kindOf(dt: DataType): Char = dt match {
    case FloatType | DoubleType => 'f'
    case d: DecimalType => if (d.scale > 0) 'f' else 'i'
    case ByteType | ShortType | IntegerType | LongType => 'i'
    case _ => 's'
  }

  /** Canonical kind of a column from its type on both sides: a value
    * the oracle returns as DOUBLE and graft as DECIMAL compares as a
    * double, one both sides return as integers compares exactly.
    */
  def kinds(actual: StructType, expected: StructType): Map[String, Char] =
    actual.fields.map { f =>
      val a = kindOf(f.dataType)
      val b = expected.find(_.name == f.name).map(x => kindOf(x.dataType)).getOrElse('s')
      val k = if (a == 's' || b == 's') 's' else if (a == 'f' || b == 'f') 'f' else 'i'
      f.name -> k
    }.toMap

  private def rowHash(df: DataFrame, kinds: Map[String, Char]): Column = {
    val cols = df.columns.sorted.toSeq.map { c =>
      val x = df.col(s"`$c`")
      val v = kinds.getOrElse(c, 's') match {
        case 'f' => val d = x.cast(DoubleType); when(d === 0.0, lit(0.0)).otherwise(d)
        case 'i' => x.cast(DecimalType(38, 0))
        case _ => x.cast(StringType)
      }
      (v, x.isNull)
    }
    // hashing skips nulls, so the null pattern is hashed on its own
    val nulls = concat(cols.map { case (_, n) => when(n, lit("1")).otherwise(lit("0")) }: _*)
    xxhash64((cols.map(_._1) :+ nulls): _*)
  }

  /** The frame whose collect() is the timed action. */
  def actionFrame(df: DataFrame, kinds: Map[String, Char]): Dataset[(Long, Long)] = {
    import df.sparkSession.implicits._
    df.select(rowHash(df, kinds).as("h")).as[Long].mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { h => n += 1; s += h }
      Iterator.single((n, s))
    }
  }

  def collect(action: Dataset[(Long, Long)]): (Long, Long) =
    action.collect().foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }
}
