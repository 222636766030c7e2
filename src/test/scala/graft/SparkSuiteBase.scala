package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for every suite (Test/fork runs them in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuiteBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  /** t1 smoke fixtures (TESTDATA.md). */
  val SF = "/root/testdata/sf0.001"
  def run(name: String) = SparkEntry.queries(name)(spark, SF)

  /** Registers `name` once per `file:` checkpoint filesystem: as is, on
    * Hadoop's default LocalFs, and with " (NioLocalFs)" appended, on the
    * filesystem every stream key registers through `Streaming.streamRoot`.
    * `body` gets the maker of its root directories; the session's
    * registration is restored afterwards. */
  def checkpointFsTest(name: String)(body: (String => String) => Unit): Unit =
    for ((suffix, nio) <- Seq("" -> false, " (NioLocalFs)" -> true)) test(name + suffix) {
      val key = graft.streaming.NioLocalFs.ConfKey
      val prev = spark.conf.getOption(key)
      spark.conf.unset(key)
      try body(tag =>
        if (nio) graft.ops.Streaming.streamRoot(spark, tag) else graft.ops.GraftTmp.dir(tag))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Same per-key hygiene as Bench/Verify: builders that persist
    * (pagerank caches, dedup checkpoint lineage, the prod-dedup cell
    * assignment) must not ride the shared session's storage into later
    * tests — blocks accrete across 200+ tests otherwise (ADVICE r7). */
  override protected def afterEach(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    super.afterEach()
  }
}
