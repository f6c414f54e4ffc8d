package flowbench

import graft.sinks.SqlExport
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Ground truth rendered the way the engine renders its results, so a
  * result is checked by comparing its SQL text with the expected text. */
object Check {
  /** Expected SQL text for `rows` over the plan's own output `schema`
    * (columns `time`, `keyCols`, one measure). `unpack` turns a packed
    * ground-truth key into the key column values. */
  def expectedSql(spark: SparkSession, schema: StructType,
                  rows: Seq[Expect.Row], keyCols: Seq[String],
                  unpack: Long => Seq[Any], conf: SqlExport.Conf): String = {
    val measure = schema.fieldNames
      .filterNot(n => n == "time" || keyCols.contains(n)).head
    val data = rows.map { r =>
      val keys = r.key.map(unpack).getOrElse(keyCols.map(_ => null))
      val byName: Map[String, Any] =
        Map("time" -> r.time, measure -> r.value) ++ keyCols.zip(keys)
      Row.fromSeq(schema.fieldNames.toSeq.map(byName))
    }
    SqlExport.exportSql(spark.createDataFrame(data.asJava, schema), conf)
  }

  /** Time `body` in milliseconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }
}
