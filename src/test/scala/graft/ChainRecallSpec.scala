package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Components, Dedup}
import graft.text.TextOps

/** Measures the recall trade of sorted-neighborhood CHAIN candidates
  * (ADVICE r8, Dedup.chainCandidatesFromKeys): chain-link
  * connectivity is conditional — a band-key hash collision interleaving
  * more than J non-verifying strangers between two true dups inside a
  * band can break the pair's only chain link and silently split a
  * cluster. The chain-mirroring closure oracles compute the same chain,
  * so they CANNOT see such a split; this spec compares chain-closure
  * components against the FULL-pair closure (every verified band
  * cohabitant pair, the exact truth) on the dup-injected corpus and
  * asserts the measured same-component-pair recall.
  */
class ChainRecallSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  test("chain-closure components preserve the full-pair closure's clusters (measured recall)") {
    val docs = graft.queries.QLlm.docsWithDups(spark, sfDir)
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .cache()

    def verifiedEdges(cand: DataFrame): DataFrame = cand
      .join(docs.select(col("doc_id").as("id_a"), col("sh").as("sha")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("sh").as("shb")), Seq("id_b"))
      .filter(round(TextOps.jaccard(col("sha"), col("shb")), 6) >= 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))

    val verts = docs.select(col("doc_id").as("id"))
    val fullLbl = Components
      .connectedComponents(verts, verifiedEdges(Dedup.lshBandCandidates(docs)))
      .withColumnRenamed("lbl", "lbl_full")
    val chainLbl = Components
      .connectedComponents(verts,
        verifiedEdges(Dedup.chainCandidatesFromKeys(docs.select(col("doc_id"),
          explode(TextOps.minhashBandKeys(col("sh"), 16, 8, 2)).as("band_key")), 3)))
      .withColumnRenamed("lbl", "lbl_chain")
    val both = fullLbl.join(chainLbl, Seq("id")).cache()

    // chain candidates are a subset of the full band-cohabitant pairs, so
    // chain components must REFINE full components: no chain component may
    // span two full components (a chain link the full closure lacks would
    // be a correctness bug, not a recall trade)
    val spanning = both.groupBy("lbl_chain")
      .agg(countDistinct("lbl_full").as("nf")).filter(col("nf") > 1)
    assert(spanning.count() === 0L, "chain closure merged docs the full closure separates")

    // pair recall: of all same-component doc pairs under the full closure
    // (sum n·(n−1)/2 per component), the fraction still same-component
    // under the chain closure (sum m·(m−1)/2 per (full, chain) cell —
    // well-defined because of the refinement property above)
    def pairs2(df: DataFrame, keys: Seq[String]): Long = df
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L))).head().getLong(0)
    val truePairs2 = pairs2(both, Seq("lbl_full"))
    val keptPairs2 = pairs2(both, Seq("lbl_full", "lbl_chain"))
    assert(truePairs2 > 0L, "sanity: the injected corpus must produce dup clusters")
    val recall = keptPairs2.toDouble / truePairs2
    info(f"chain-vs-full same-component pair recall at sf0.01: $recall%.6f " +
      s"(${keptPairs2 / 2} of ${truePairs2 / 2} pairs)")
    // the injected dup families cohabit bands via genuine signature
    // agreement, so interleaved strangers verify too and chains hold;
    // the floor leaves room only for the documented collision pathology
    assert(recall >= 0.98, f"chain recall $recall%.4f fell below 0.98")
    both.unpersist(); docs.unpersist()
  }
}
