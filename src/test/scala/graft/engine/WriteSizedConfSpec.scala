package graft.engine

import graft.SparkFunSuite

/** The sized segment write borrows a pooled loop session and tunes its AQE
  * coalescing; the session must go back to the pool without that tuning. */
class WriteSizedConfSpec extends SparkFunSuite {

  test("a loop session borrowed after a sized write plans with the parent's parallelismFirst") {
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val parent = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("write_sized").toString + "/tbl"
    TxTable.commitOverwrite(parent, root, parent.range(0, 100).toDF("k"))
    val child = Graph.borrowLoopSession(parent)
    try {
      assert(child ne parent, "the sized write must have pooled a child session")
      assert(child.conf.get(key) === parent.conf.get(key))
    } finally Graph.returnLoopSession(parent, child)
  }
}
