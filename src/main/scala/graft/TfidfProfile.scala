package graft

/** Stage breakdown of qd_tfidf_pairs — the suite's most expensive
  * query (~5% of the whole bench; the only one over 10 s) — at ladder
  * scale, so "is further work worth it" is decided by measurement:
  * which of its three stages grows at ×10?
  *
  *   banding   — minhash band-collision candidate generation
  *               ([[graft.dedup.Dedup.minhashCandidateEdges]]);
  *               measured as the wall of materializing `cand` alone.
  *   assembly  — candidate-pruned tf-idf vector assembly (tf → idf
  *               window → integerized weights → sorted sparse vector
  *               per doc); measured as wall(`vec`) − wall(`cand`):
  *               `vec` embeds the candidate frame via its semi-join
  *               prune, so its run re-executes the banding (the
  *               subtraction removes it; ReuseExchange makes the
  *               embedded copy cost ≈ the standalone run).
  *   scoring   — gate-chosen attach joins + native merge-walk cosine;
  *               wall(full) − wall(`vec`), same reasoning.
  *
  * Each stage wall is min-of-`SPARK_GRAFT_LADDER_ITERS` (default 2).
  * Emits SCALING_RAW-shaped rows (query=tfidf_<stage>) to
  * SPARK_GRAFT_LADDER_OUT (default /tmp/TFIDF_PROFILE.jsonl).
  *
  * Run: `sbt "runMain graft.TfidfProfile sf1=target/scaledata/sf1"`.
  */
object TfidfProfile {
  def main(args: Array[String]): Unit = {
    val ladder = Harness.labelDirs(args.toSeq, "TfidfProfile <label>=<dir> ...")
    val iterations = sys.env.getOrElse("SPARK_GRAFT_LADDER_ITERS", "2").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_LADDER_OUT",
      "/tmp/TFIDF_PROFILE.jsonl")
    val spark = Harness.session()

    def timed(mk: () => Long): (Double, Long) =
      Harness.minOfN(iterations)(Harness.timed(mk())).fold(e => throw e, identity)
    Harness.appendJsonl(outPath) { emit =>
      for ((label, dir) <- ladder) {
        // Fresh frames per timing so Materialize.once caching inside
        // `vec` can't leak one measurement into the next.
        val (bandSec, bandRows) = timed { () =>
          Force.rows(graft.queries.DedupQueries.tfidfCandVec(spark, dir)._1)
        }
        val (vecSec, vecRows) = timed { () =>
          Force.rows(graft.queries.DedupQueries.tfidfCandVec(spark, dir)._2)
        }
        val (fullSec, fullRows) = timed { () =>
          Force.rows(graft.queries.DedupQueries.qdTfidfPairs(spark, dir))
        }
        val asmSec = math.max(0.0, vecSec - bandSec)
        val scoreSec = math.max(0.0, fullSec - vecSec)
        def ms(v: Double) = JsonFmt.ms(v)
        emit(s"""{"sf":"$label","query":"tfidf_banding","sec":${ms(bandSec)},"rows":$bandRows,"force":"full"}""")
        emit(s"""{"sf":"$label","query":"tfidf_assembly","sec":${ms(asmSec)},"vec_wall_sec":${ms(vecSec)},"rows":$vecRows,"force":"full"}""")
        emit(s"""{"sf":"$label","query":"tfidf_scoring","sec":${ms(scoreSec)},"full_wall_sec":${ms(fullSec)},"rows":$fullRows,"force":"full"}""")
      }
    }
    spark.stop()
  }
}
