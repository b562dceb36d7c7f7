package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSuite, Tables}

/** The per-(session, dir) serving-build memo (r14 advice): the IVF-PQ
  * serving table and the materialized BM25 table used to be rebuilt by
  * every caller in the served-retrieval family — several times per bench
  * sweep. Pins that the second request is a MEMO HIT (the same artifact
  * object back, not an equal rebuild), that the memo self-heals when the
  * scratch table is dropped out from under it, and that serving reads
  * against the memoized artifact still answer correctly.
  */
class ServingMemoSpec extends SparkSuite {

  test("second build request is a memo hit; drop-table self-heals") {
    val corpus = Similarity.prepare(Tables.embeddings(spark, sf0001)).persist()
    val a = SimilarityQueries.ivfPqServing(spark, sf0001, corpus)
    val b = SimilarityQueries.ivfPqServing(spark, sf0001,
      sys.error("memo hit must not re-evaluate the corpus thunk"))
    // reference equality: b IS the cached artifact, not an equal rebuild
    assert(b._1 == a._1 && (b._2 eq a._2) && (b._3 eq a._3))
    assert(spark.catalog.tableExists(a._1))
    // self-heal: dropping the scratch table invalidates the entry
    spark.sql(s"DROP TABLE ${a._1}")
    val c = SimilarityQueries.ivfPqServing(spark, sf0001, corpus)
    assert(c._1 == a._1, "rebuild lands under the same dir-tagged name")
    assert(spark.catalog.tableExists(c._1))
    // and the healed artifact serves: the bucketed probe answers k rows
    val served = SimilarityQueries.queries("src_ivfpq_bucketed")(spark, sf0001)
    assert(served.count() ==
      SimilarityQueries.NQueriesServe.toLong * SimilarityQueries.K)
    spark.catalog.clearCache()
  }

  test("a failing maxsim build evicts only its own memo entry") {
    type Artifact = (String, Seq[(Long, Seq[Double], Double)])
    val dir = "serving-memo-spec-failing-build"
    val memo = SimilarityQueries.maxsimCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String,
        java.util.concurrent.CompletableFuture[Artifact]]())
    // another caller's rebuild future, installed while this build is still
    // running — what a concurrent stale-table recheck does once the failing
    // future is done
    val theirs = java.util.concurrent.CompletableFuture.completedFuture[Artifact](
      ("graft_maxsim_lists_other", Seq.empty))
    val e = intercept[IllegalStateException] {
      SimilarityQueries.maxsimServing(spark, dir, {
        memo.put(dir, theirs)
        throw new IllegalStateException("build failed")
      })
    }
    assert(e.getMessage == "build failed")
    assert(memo.get(dir) eq theirs, "the failed build evicted another caller's entry")
    memo.remove(dir)
  }
}
