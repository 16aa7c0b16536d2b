package graft

/** Storage discipline of the iterative dedup kernel: each round's
  * `localCheckpoint` blocks are released once the next round is
  * materialized, without waiting for a driver GC. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("connected components keep only the last round's checkpoint blocks") {
    def cachedRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    // a 120-deep chain needs several rounds (seed + each round checkpoints)
    val chain = (0L until 119L).map(i => (i, i + 1))
    val (labels, rounds, checkpoints) =
      operators.Dedup.connectedComponentsInstrumented(chain.toDF("u", "v"))
    assert(rounds >= 2 && checkpoints == rounds + 1)
    val held = cachedRdds -- before
    assert(held.size <= 1, spark.sparkContext.getRDDStorageInfo.mkString("; "))
    // the last round's blocks still serve the labels
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 119L).forall(n => got(n) == 0L))
  }
}
