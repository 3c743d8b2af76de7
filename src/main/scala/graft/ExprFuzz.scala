package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.expr.Expressions
import scala.util.control.NonFatal
/** P4 expression-language fuzz driver: evaluates every input expression
  * over a deterministic 200-row lineitem slice and writes the raw double
  * results (one column per expression) to parquet for an external
  * bit-exact comparison against DuckDB. */
object ExprFuzz {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice").limit(200)
    val exprs = scala.io.Source.fromFile(args(0)).getLines().toSeq
    val cols = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"), col("l_quantity"), col("l_extendedprice")) ++
      exprs.zipWithIndex.map { case (e, i) =>
        (try Expressions.compile(li, e).cast("double")
         catch { case NonFatal(_) => lit(null).cast("double") }).as(s"e$i")
      }
    li.select(cols: _*).coalesce(1).write.mode("overwrite").parquet(args(1))
    spark.stop()
  }
}
