package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.sql.Timestamp

/** Shared local SparkSession + events-schema fixture builder for specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session

  val SfDir = "/root/testdata/sf0.001"

  /** events-shaped frame with a NULLABLE value — the string-payload rows
    * the alarm null-guards exist for (a primitive-Double builder can never
    * represent them, leaving those guards untestable).
    */
  def eventsDfOpt(rows: Seq[(Long, String, Long, String, Option[Double], String)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    ))
    val data = rows.map { case (id, ts, uid, et, v, p) =>
      Row(id, Timestamp.valueOf(ts), uid, et, v.map(Double.box).orNull, p)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  /** events-shaped frame: (event_id, ts, user_id, event_type, value, props) */
  def eventsDf(rows: Seq[(Long, String, Long, String, Double, String)]): DataFrame = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)
    ))
    val data = rows.map { case (id, ts, uid, et, v, p) =>
      Row(id, Timestamp.valueOf(ts), uid, et, v, p)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.LocalFsConf) // the local filesystem production ships
      .getOrCreate()
    GraftExtensions.register(s) // native functions visible to SQL in specs
    s
  }
}
