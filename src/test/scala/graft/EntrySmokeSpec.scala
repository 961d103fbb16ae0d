package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  /** One session for the whole test run; intentionally does NOT set the
    * nanosAsLong conf so tests prove Tables.events self-configures (the
    * driver's own session won't have it either). */
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // transformWithState requires the RocksDB state store provider —
      // also the provider we'd run with on a real cluster
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. The listener bus is drained
    * before the listener is added (earlier jobs' events stay out) and
    * after `body` (all of its jobs' events are in). */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.TestBusDrain(sc)
    sc.addSparkListener(l)
    try {
      body
      org.apache.spark.TestBusDrain(sc)
      n.get()
    } finally sc.removeSparkListener(l)
  }
}

class EntrySmokeSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows on sf0.001 with a fresh (unconfigured) session") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // queries whose predicates legitimately eliminate the sparse sf0.001
  // fixture — everything else must return rows, so a filter bug that
  // silently empties a result set fails here (the only guard the
  // oracle-less hash-based queries have against that)
  private val mayBeEmpty = Set("set3_except")

  test("every query runs, oracle keys ⊆ queries, and results are non-trivial") {
    val qs = SparkEntry.queries
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
    qs.foreach { case (name, fn) =>
      val n = fn(spark, sf).count() // allowlisted queries run for the not-throwing check only
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows on the smoke fixture")
    }
  }
}
