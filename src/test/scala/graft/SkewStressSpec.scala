package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimOps

/** Degenerate-bucket stress for the similarity family: 1,000 documents
  * land in ONE `source` bucket, but only a 20-doc duplicate cluster is
  * actually similar — the other 980 share no bigram with anything.
  * The scalable property under test: candidate-pair volume must be
  * proportional to TRUE duplicates (the cluster), not to the bucket
  * size squared (all-pairs would be 499,500). e8's prefix filter drops
  * every singleton posting before any pair exists; the (source, bigram)
  * grouping key spreads the hot bucket's postings across partitions, so
  * no salting is needed — the bigram dimension itself distributes the
  * skew. e6/e7b candidates come from signature collisions, which for
  * unrelated docs are birthday noise, not bucket mass. */
class SkewStressSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val ClusterSize = 20
  private val ClusterPairs = ClusterSize * (ClusterSize - 1) / 2 // 190

  private lazy val fixtureDir: String = {
    val dir = s"${graft.util.PathKeys.fixtureRoot}/test-skew"
    val dupText = (0 until 30).map(t => f"dup$t%03d").mkString(" ")
    val cluster = (0 until ClusterSize).map { i =>
      (1000L + i, dupText, "en", "hot", dupText.length.toLong)
    }
    val unique = (0 until 980).map { i =>
      val txt = (0 until 30).map(t => f"u$i%03dw$t%03d").mkString(" ")
      (2000L + i, txt, "en", "hot", txt.length.toLong)
    }
    import spark.implicits._
    (cluster ++ unique).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("e8: candidate volume tracks the duplicate cluster, not the bucket square") {
    // replicate the op's candidate generator: posting lists per
    // (source, bigram-hash), pairs = sum C(|posting|, 2). 29 bigrams ×
    // 190 pairs each = 5,510 — vs 499,500 for an unfiltered bucket.
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val bg = docs.select(col("doc_id"), col("source"),
        explode(expr("transform(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
          "(w, i) -> concat(w, ' ', element_at(split(text, ' '), i + 2)))")).as("bg"))
      .distinct()
    val candVolume = bg.groupBy("source", "bg").count()
      .where(col("count") > 1)
      .agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
      .collect()(0).getLong(0)
    assert(candVolume == 29L * ClusterPairs,
      s"prefix-filtered candidate volume $candVolume must be cluster-bounded")
    assert(candVolume < 499500 / 50, "nowhere near bucket², by two orders")
  }

  test("e8 finds exactly the cluster pairs in the hot bucket") {
    val pairs = SimOps.e8NgramJaccard(spark, fixtureDir).collect()
    assert(pairs.length == ClusterPairs, s"got ${pairs.length}, want $ClusterPairs")
    assert(pairs.forall(_.getAs[Double]("jaccard") == 1.0))
    assert(pairs.forall { r =>
      r.getAs[Long]("d1") >= 1000 && r.getAs[Long]("d2") < 1000 + ClusterSize
    })
  }

  test("e6 MinHash+LSH surfaces the cluster without flooding on the hot bucket") {
    val out = SimOps.e6MinhashLsh(spark, fixtureDir).collect()
    val clusterHits = out.count { r =>
      r.getAs[Long]("d1") >= 1000 && r.getAs[Long]("d2") < 1000 + ClusterSize &&
        r.getAs[Double]("jaccard") == 1.0
    }
    // identical docs have identical signatures: every band collides
    assert(clusterHits == ClusterPairs, s"cluster recall: $clusterHits/$ClusterPairs")
    // unrelated docs may band-collide only as hash noise, never en masse
    assert(out.length <= ClusterPairs + 60,
      s"band flooding: ${out.length} pairs for $ClusterPairs true dups")
  }

  test("e7b SimHash pairing stays birthday-bounded on the hot bucket") {
    val out = SimOps.e7bSimhashPairs(spark, fixtureDir).collect()
    val clusterHits = out.count { r =>
      r.getAs[Long]("d1") >= 1000 && r.getAs[Long]("d2") < 1000 + ClusterSize &&
        r.getAs[Int]("hamming") == 0
    }
    assert(clusterHits == ClusterPairs, s"cluster recall: $clusterHits/$ClusterPairs")
    // random 32-bit fingerprints land within Hamming ≤3 with p ≈ 1.3e-6;
    // anything beyond a handful of extras means the banding collapsed
    assert(out.length <= ClusterPairs + 60,
      s"pigeonhole pairing flooded: ${out.length} pairs")
  }
}
