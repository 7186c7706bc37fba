package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("native topKPerGroup matches the row_number plan on unique values") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      // unique order value: price + linenumber epsilon removes tie ambiguity
      .withColumn("ov", $"l_extendedprice" * 100 + $"l_linenumber")
    val native = TopK.topKPerGroup(li, Seq("l_returnflag"), "ov", k = 5)
      .select($"l_returnflag", $"ov").as[(String, Double)].collect().toSet
    val declarative = li.withColumn("rk", row_number().over(
        Window.partitionBy($"l_returnflag").orderBy($"ov".desc)))
      .filter($"rk" <= 5)
      .select($"l_returnflag", $"ov").as[(String, Double)].collect().toSet
    assert(native == declarative)
  }

  test("planner inserts the hash exchange for group co-location") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val df = TopK.topKPerGroup(li, Seq("l_returnflag", "l_linestatus"),
      "l_extendedprice", k = 2)
    val plan = PlanWalk.finalPlan(df).toString()
    assert(plan.contains("TopKPerGroup"), plan)
    assert(plan.contains("hashpartitioning(l_returnflag"), plan)
    // 3 flags x 2 statuses at most, k=2
    assert(df.count() <= 12)
  }

  test("groups smaller than k return all their rows") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 9.0)).toDF("k", "v")
    val out = TopK.topKPerGroup(df, Seq("k"), "v", k = 5)
      .as[(String, Double)].collect().toSet
    assert(out == Set(("a", 1.0), ("a", 2.0), ("b", 9.0)))
  }

  test("long order column supported; bad column errors clearly") {
    val df = Seq(("a", 1L), ("a", 5L), ("a", 3L)).toDF("k", "v")
    val out = TopK.topKPerGroup(df, Seq("k"), "v", k = 2)
      .as[(String, Long)].collect().map(_._2).toSet
    assert(out == Set(5L, 3L))
    val err = intercept[IllegalArgumentException] {
      TopK.topKPerGroup(df, Seq("k"), "nope", 2)
    }
    assert(err.getMessage.contains("nope"))
  }
}
