package graft

/** Registry consistency: the driver's correctness gate compares
  * SparkEntry.queries against SparkEntry.oracleSql — every oracle must
  * point at a registered query, and any query WITHOUT an oracle (weaker
  * rows-only check) must be an explicit, documented exception. The
  * registry runner [[SparkEntry.run]] releases each query's caches. */
class RegistrySpec extends SparkTestBase {

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("every query has an oracle (no rows-only checks)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"undocumented rows-only queries: $rowsOnly")
  }

  test("query names are unique across modules (no silent toMap collisions)") {
    val all = Registry.contributedQueryNames
    val dupes = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"duplicate query names: $dupes")
  }

  test("SparkEntry.run releases tracked query caches after use returns " +
    "and after use throws") {
    def cached(df: org.apache.spark.sql.DataFrame): Boolean = spark.sharedState
      .cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    val s = spark; import s.implicits._
    val dir = TempDirs.create("graftrun")
    Seq(("A", "F", 1.0, 10.0, 0.05), ("N", "O", 2.0, 20.0, 0.1))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    def trackedPersist(n: Long) = QueryCaches.track(spark.range(n).toDF().persist())
    var kept: org.apache.spark.sql.DataFrame = null
    val rows = SparkEntry.run(spark, "q1_agg", dir) { df =>
      kept = trackedPersist(7)
      assert(cached(kept))
      df.count()
    }
    assert(rows == 2)
    assert(!cached(kept))
    intercept[IllegalStateException] {
      SparkEntry.run(spark, "q1_agg", dir) { _ =>
        kept = trackedPersist(11)
        assert(cached(kept))
        throw new IllegalStateException("use failed")
      }
    }
    assert(!cached(kept))
  }
}
