package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** Counting how often a plan computes its input rows: a column routed
  * through an identity udf adds one to an accumulator per call. */
trait CountedRows { self: SparkSpec =>

  // RDD-backed, not local relations: the optimizer evaluates a udf over a
  // local relation at plan time, once per plan copy
  def frame[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      rows: Seq[T], cols: String*): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF(cols: _*)

  /** `df` with `c` routed through an identity udf that counts its calls. */
  def counted(df: DataFrame, c: String, acc: LongAccumulator): DataFrame = {
    val f = df.schema(c).dataType match {
      case StringType => udf((s: String) => { acc.add(1); s })
      case LongType => udf((x: Long) => { acc.add(1); x })
      case _ => udf((v: Seq[Float]) => { acc.add(1); v })
    }
    df.withColumn(c, f(col(c)))
  }
}
