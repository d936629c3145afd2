package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    Tables.SessionConfigs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Persisted RDD ids and the number of cache entries, now. */
  def held: (Set[Int], Int) = (spark.sparkContext.getPersistentRDDs.keySet.toSet,
    org.apache.spark.sql.graftbridge.CacheProbe.entries(spark))

  /** Runs `body` and asserts it leaves no persisted RDD and no cache entry
    * behind. The session is shared across suites, so the check is on what
    * `body` added. */
  def assertReleases[T](body: => T): T = {
    val (rdds, cached) = held
    val out = body
    val (rddsAfter, cachedAfter) = held
    assert((rddsAfter -- rdds).isEmpty, s"persisted RDDs left behind: ${rddsAfter -- rdds}")
    assert(cachedAfter <= cached, s"cache entries left behind: ${cachedAfter - cached}")
    out
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
