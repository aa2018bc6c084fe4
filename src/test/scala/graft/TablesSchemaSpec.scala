package graft

/** The declared table schemas are exactly what parquet inference reads
  * from the footers, at every scale the tests, oracle and bench use — so
  * skipping inference changes no plan and no result.
  */
class TablesSchemaSpec extends SparkTestBase {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("the ten fixture tables are declared, no more") {
    assert(Tables.schemas.keySet === tables.toSet)
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
    test(s"declared schema equals the inferred footer schema at $sf") {
      val dir = s"/root/testdata/$sf"
      for (t <- tables) {
        val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
        assert(Tables.schemas(t) === inferred, s"($t at $sf)")
        assert(Tables(spark, dir, t).schema === inferred, s"($t at $sf)")
      }
    }
  }

  test("an undeclared table name fails on the driver, naming the table") {
    val e = intercept[IllegalArgumentException] {
      Tables(spark, "/root/testdata/sf0.001", "lineitems")
    }
    assert(e.getMessage.contains("undeclared table 'lineitems'"))
  }
}
