package graft

/** Pins the round-13 ADVICE fix: builder configs are last-write-wins,
  * and tune() used to write the stock broadcast fuse OVER the long fuse
  * the entry points had already set — all four drivers silently ran
  * fail-fast. The fuse is now tune()'s parameter; this spec fails if
  * anyone reverts to a pre-set-then-tune arrangement.
  */
class SessionSpec extends SparkSpec {
  test("graft entry-point sessions carry the long broadcast fuse through tune()") {
    assert(spark.conf.get("spark.sql.broadcastTimeout") ==
      GraftSession.longFuse)
  }

  test("tune() without an explicit fuse keeps the stock fail-fast default") {
    assert(GraftSession.broadcastTimeout == "300" ||
      sys.env.contains("GRAFT_BROADCAST_TIMEOUT"))
  }

  test("the Tables memo is per session: a newSession() sibling gets its own frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    spark.range(3).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val mine = Tables.documents(spark, dir)
    assert(Tables.documents(spark, dir) eq mine)
    val sibling = spark.newSession()
    val theirs = Tables.documents(sibling, dir)
    assert(!(theirs eq mine), "a sibling session was handed this session's frame")
    assert(theirs.sparkSession eq sibling)
    assert(Tables.documents(sibling, dir) eq theirs)
  }
}
