package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** graft natives callable from SQL through the session's function registry. */
class ExtensionsSpec extends GraftSuite {
  import spark.implicits._

  test("native expressions callable from spark.sql") {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_polyhash",
      exprs => graft.functions.PolyHash(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction("graft_sorted_intersect_count",
      exprs => graft.functions.SortedIntersectCount(exprs.head, exprs(1)),
      "scala_udf")
    Seq("abc", "").toDF("t").createOrReplaceTempView("docs_ext")
    val got: List[Long] = spark
      .sql("SELECT graft_polyhash(t) AS h FROM docs_ext ORDER BY h")
      .collect().toList.map(_.getLong(0)).sorted
    val expected: List[Long] =
      List("abc", "").map(s => graft.functions.PolyHash.hash(s)).sorted
    assert(got == expected)
    val cnt = spark.sql(
      "SELECT graft_sorted_intersect_count(array(1L, 3L, 9L), array(3L, 9L, 11L)) AS c")
      .head().getInt(0)
    assert(cnt == 2)
  }
}
