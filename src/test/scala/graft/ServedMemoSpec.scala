package graft

/** QueryDefs' served-artifact memo: one build per (session, kind, dir);
  * another kind, dir or session builds its own artifact; every lookup,
  * hit or miss, counts in `memoLookups` (graft.Bench's warm-up rule). */
class ServedMemoSpec extends SparkSpec {
  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("memo builds once per (session, kind, dir) and counts every lookup") {
    val dirA = tempDir("memo_a")
    val dirB = tempDir("memo_b")
    var builds = 0
    // one lookup: returns the artifact and the counter's rise
    def lookup(kind: String, s: org.apache.spark.sql.SparkSession,
               d: String): (AnyRef, Long) = {
      val before = QueryDefs.memoLookups
      val a = QueryDefs.memo(kind, s, d) { builds += 1; new Object }
      (a, QueryDefs.memoLookups - before)
    }

    val (first, missRise) = lookup("spec", spark, dirA)
    val (again, hitRise) = lookup("spec", spark, dirA)
    assert(again eq first)
    assert(builds == 1)
    assert(missRise == 1L && hitRise == 1L)

    val (otherKind, _) = lookup("spec_other", spark, dirA)
    val (otherDir, _) = lookup("spec", spark, dirB)
    assert(builds == 3)
    assert(!(otherKind eq first) && !(otherDir eq first) &&
      !(otherKind eq otherDir))

    // a second session on the same SparkContext never sees the first
    // session's artifact, and keeps its own across lookups
    val other = spark.newSession()
    val (own, _) = lookup("spec", other, dirA)
    assert(builds == 4 && !(own eq first))
    assert(lookup("spec", other, dirA)._1 eq own)
    assert(lookup("spec", spark, dirA)._1 eq first)
    assert(builds == 4)
  }
}
