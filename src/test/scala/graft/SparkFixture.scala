package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

trait SparkFixture extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkFixture.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkFixture {
  // one shared session across all suites: sbt test forks a single JVM.
  // Built by the mains' factory, so specs exercise the session shape
  // Verify and Bench run (parser, strategy, rules); GraftSessionSpec
  // checks it.
  lazy val session: SparkSession = GraftSession.build(4)
}
