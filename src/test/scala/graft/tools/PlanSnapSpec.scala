package graft.tools

import graft.{SparkEntry, SparkSpec}

class PlanSnapSpec extends SparkSpec {

  test("q195's exchange ledger lists the pinned-width spreads its final plan hides") {
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val q = SparkEntry.catalog.find(_.name == "q195_capped_substr_spans").get
    val (plan, ledger) = PlanSnap.snapshot(spark, q, sf0001)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(!plan.contains("Exchange"), plan)
    assert(ledger.exists(_.startsWith(s"ShuffleExchange REPARTITION_BY_NUM $width ")),
      ledger.mkString("\n"))
  }
}
