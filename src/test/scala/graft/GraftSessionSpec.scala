package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The session factory's master choice — what `spark-submit --master`
  * depends on. Pure: no Spark context is started. */
class GraftSessionSpec extends AnyFunSuite {

  test("a master already in the conf (spark-submit --master) is kept") {
    val conf = new SparkConf(false).set("spark.master", "local[2]")
    assert(GraftSession.master(conf, 7) == "local[2]")
  }

  test("without a master in the conf the session runs local[cpus]") {
    assert(GraftSession.master(new SparkConf(false), 7) == "local[7]")
  }
}
