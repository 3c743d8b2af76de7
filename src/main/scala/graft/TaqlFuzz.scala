package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import graft.expr.Taql
import scala.util.control.NonFatal
/** Cross-engine TAQL fuzz driver: reads TAQL predicates (one per line) from
  * args(0), applies Taql.toSql + filter on lineitem, prints "idx count" per
  * predicate for an external oracle (DuckDB) to compare. */
object TaqlFuzz {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val preds = scala.io.Source.fromFile(args(0)).getLines().toSeq
    preds.zipWithIndex.foreach { case (p, i) =>
      val c = try li.filter(expr(Taql.toSql(p))).count()
      catch { case NonFatal(_) => -1L }
      println(s"TAQLFUZZ $i $c")
    }
    spark.stop()
  }
}
