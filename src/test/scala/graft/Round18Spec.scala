package graft

import org.apache.spark.sql.functions._

class Round18Spec extends SparkSpec {

  test("streaming heavy hitters equals the exact batch top-k") {
    val stream = graft.streaming.EventStreams.heavyHittersStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val exact = MisraGriesExprSpec.exactTopK(
      Tables.events(spark, sf).select(col("user_id").cast("string").as("word")), 10)
      .map { case (u, c) => (u.toLong, c) }.sortBy(_._1)
    assert(exact.length == 10)
    assert(stream.sameElements(exact))
  }

  test("anomaly z-scores: every flagged row exceeds the threshold, none is double-counted") {
    val flagged = SparkEntry.queries("q277_anomaly_zscore")(spark, sf).collect()
    val total = Tables.events(spark, sf).filter(col("value").isNotNull).count()
    flagged.foreach(r => assert(math.abs(r.getDouble(2)) > 2.5 - 1e-9))
    assert(flagged.map(_.getLong(0)).distinct.length == flagged.length)
    // a z>2.5 tail of a roughly uniform value distribution is small
    assert(flagged.length < total / 10)
  }

  test("streaming transitions equals the batch lead-window counts") {
    val stream = graft.streaming.EventStreams.transitionsStreaming(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    val batch = SparkEntry.queries("q270_transitions")(spark, sf)
      .select("src", "dst", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).sorted
    assert(stream.sameElements(batch))
  }

  test("CDC apply: deletes gone, updates rewritten, inserts present") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val applied = SparkEntry.queries("q279_cdc_apply")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    orig.foreach { case (id, text) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      def fp(s: String) = md5.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (id % 7 == 0) assert(!applied.contains(id), s"deleted $id survived")
      else if (id % 5 == 0) assert(applied(id) == fp(text + " v2"), s"update missed $id")
      else assert(applied(id) == fp(text), s"row $id changed unexpectedly")
      if (id % 11 == 0) assert(applied.contains(id + 1000000L), s"insert missed $id")
    }
  }

  test("anomaly stats join is broadcast (no shuffle of the event scan for stats)") {
    val plan = SparkEntry.queries("q277_anomaly_zscore")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("survivorship: exactly one kept per cluster and it has max quality") {
    val rows = SparkEntry.queries("q281_survivorship")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2), r.getBoolean(3)))
    val byCluster = rows.groupBy(_._1)
    byCluster.foreach { case (c, members) =>
      val kept = members.filter(_._4)
      assert(kept.length == 1, s"cluster $c kept ${kept.length}")
      val maxQ = members.map(_._3).max
      assert(kept.head._3 == maxQ, s"cluster $c kept a non-best member")
      // tiebreak: smallest id among max-quality members
      assert(kept.head._2 == members.filter(_._3 == maxQ).map(_._2).min)
    }
    // at least one multi-member cluster exercises the policy
    assert(byCluster.exists(_._2.length > 1))
  }

  test("streaming anomaly monitor equals batch q277") {
    val stream = graft.streaming.EventStreams.anomalyStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted
    val batch = SparkEntry.queries("q277_anomaly_zscore")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted
    assert(stream.sameElements(batch))
  }

  test("snapshot diff statuses match the deterministic derivation") {
    val rows = SparkEntry.queries("q278_snapshot_diff")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.nonEmpty)
    rows.foreach { case (id, status) =>
      status match {
        case "removed" => assert(id % 7 == 0 && id < 1000000)
        case "changed" => assert(id % 5 == 0 && id % 7 != 0 && id < 1000000)
        case "added" => assert(id >= 1000000 && (id - 1000000) % 11 == 0)
        case other => fail(s"unexpected status $other for $id")
      }
    }
    // every membership class appears
    assert(rows.map(_._2).distinct.sorted.sameElements(Array("added", "changed", "removed")))
  }
}
