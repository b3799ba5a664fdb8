package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.ext.{Dedup, DedupCluster, Packing, Repetition, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.functions.FrequentItems
import graft.ops.{AsOfJoin, Cdc, Graph, RangeJoin, StorageLayout}

/** User-facing entry point: `import graft.syntax._` puts the engine's
  * operators on every DataFrame, so pipelines read as method chains
  * instead of object calls. Thin forwarding only — each method's contract
  * lives with its implementation.
  */
object syntax {

  /** Signed-zero-safe 6-dp rounding for cross-engine double outputs.
    *
    * `round(x, 6)` can yield `-0.0` (any x in (-5e-7, 0)), and Spark and
    * DuckDB disagree on the SIGN of a zero that close to the boundary
    * (different last-ulp arithmetic upstream) — the driver's hasher is
    * bit-strict, so `+0.0` vs `-0.0` is a hash mismatch (the round-10
    * q171/q174 failure). Appending `+ 0.0` normalizes: under IEEE-754
    * round-to-nearest, `-0.0 + 0.0 = +0.0` and every non-zero value is
    * unchanged. The DuckDB twin must mirror with a literal `+ 0.0` after
    * its final `round(…, 6)`.
    */
  def round6z(c: Column): Column =
    org.apache.spark.sql.functions.round(c, 6) +
      org.apache.spark.sql.functions.lit(0.0)

  implicit class GraftOps(private val df: DataFrame) extends AnyVal {

    // --- dedup -----------------------------------------------------------
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exactByHash(df, idCol, textCol)

    def minhashSignature(idCol: String, textCol: String): DataFrame =
      Dedup.minHashSignature(df, idCol, textCol)

    def ngrams(idCol: String, textCol: String, n: Int): DataFrame =
      Dedup.ngramsExploded(df, idCol, textCol, n)

    def dedupClusters(idCol: String, textCol: String): DataFrame =
      DedupCluster.dedupClusters(df, idCol, textCol)

    def dropBoilerplate(idCol: String, textCol: String, sep: String = "\n",
        minDf: Int = 2): DataFrame =
      TextAnalysis.dropBoilerplate(df, idCol, textCol, sep, minDf)

    def repeatedSubstrSpans(idCol: String, textCol: String, l: Int = 8,
        minCount: Long = 2L): DataFrame =
      Dedup.repeatedSubstrSpans(df, idCol, textCol, l, minCount)

    def jaccardJoin(idCol: String, textCol: String, n: Int = 2,
        tauNum: Int = 1, tauDen: Int = 2): DataFrame =
      Dedup.jaccardSimilarityJoin(df, idCol, textCol, n, tauNum, tauDen)

    // --- similarity ------------------------------------------------------
    def knnJoin(vecCol: String, idCol: String, queries: DataFrame,
        k: Int, qidCol: String = "qid", qvCol: String = "qv"): DataFrame =
      Similarity.knnJoin(df, vecCol, idCol, queries, k, qidCol, qvCol)

    def nearDuplicatesBlocked(vecCol: String, idCol: String,
        threshold: Double, blocks: Int = 16): DataFrame =
      Similarity.nearDupPairsBlocked(df, vecCol, idCol, threshold, blocks)

    // --- corpus curation -------------------------------------------------
    def packShards(idCol: String, groupCol: String, nTok: Column,
        budget: Long): DataFrame =
      Packing.packShards(df, idCol, groupCol, nTok, budget)

    def unigramLogProb(idCol: String, textCol: String): DataFrame =
      TextAnalysis.unigramLogProb(df, idCol, textCol)

    def repetitionMetrics(idCol: String, textCol: String): DataFrame =
      Repetition.repetitionMetrics(df, idCol, textCol)

    def bm25TopK(idCol: String, textCol: String, terms: Seq[String],
        k: Int): DataFrame =
      Retrieval.bm25TopK(df, idCol, textCol, terms, k)

    def sliceTokenKl(sliceCol: String, textCol: String): DataFrame =
      TextAnalysis.sliceTokenKl(df, sliceCol, textCol)

    def invertedIndex(idCol: String, textCol: String, minDf: Long = 2L,
        postingCap: Int = 5): DataFrame =
      Retrieval.invertedIndex(df, idCol, textCol, minDf, postingCap)

    def encodeTokenIds(idCol: String, textCol: String,
        vocabSize: Int): DataFrame =
      Retrieval.encodeTokenIds(df, idCol, textCol, vocabSize)

    def ngramNovelty(idCol: String, textCol: String, n: Int = 2): DataFrame =
      TextAnalysis.ngramNovelty(df, idCol, textCol, n)

    def winsorize(groupCol: String, valCol: String, lo: Double = 0.05,
        hi: Double = 0.95): DataFrame =
      graft.ops.Profile.winsorize(df, groupCol, valCol, lo, hi)

    def bfsHops(srcCol: String, dstCol: String, seeds: Seq[Long],
        maxHops: Int): DataFrame =
      Graph.bfsHops(df, srcCol, dstCol, seeds, maxHops)

    // --- joins ------------------------------------------------------------
    def intervalJoin(right: DataFrame, lStart: String, lEnd: String,
        rStart: String, rEnd: String, keys: Seq[String],
        cellWidth: Long): DataFrame =
      RangeJoin.intervalOverlap(df, right, lStart, lEnd, rStart, rEnd,
        keys, cellWidth)

    def diffAgainst(newSnap: DataFrame, key: String,
        compareCols: Seq[String]): DataFrame =
      Cdc.snapshotDiff(df, newSnap, key, compareCols)

    def asOfJoin(right: DataFrame, keyCol: String, leftTime: String,
        rightTime: String, direction: String = "backward"): DataFrame =
      AsOfJoin.asOf(df, right, keyCol, leftTime, rightTime,
        direction = direction)

    def heavyHitters(itemCol: String, support: Double): DataFrame =
      FrequentItems.heavyHitters(df, itemCol, support)

    def zorderWrite(xCol: String, yCol: String, path: String,
        files: Int): Unit =
      StorageLayout.zorderWrite(df, xCol, yCol, path, files)

    // --- round-11 sugar: drift stats, retrieval eval, routing, layout ---
    def ksDrift(valueCol: String, isA: Column): DataFrame =
      graft.ops.Drift.ksTest(df, valueCol, isA)

    def wassersteinDrift(valueCol: String, isA: Column): DataFrame =
      graft.ops.Drift.wasserstein1(df, valueCol, isA)

    def ecdfTable(valueCol: String): DataFrame =
      graft.ops.Drift.ecdfTable(df, valueCol)

    def ksDriftAgainst(corpusCounts: DataFrame, valueCol: String): DataFrame =
      graft.ops.Drift.incrementalKs(corpusCounts, df, valueCol)

    def wassersteinAgainst(corpusCounts: DataFrame,
        valueCol: String): DataFrame =
      graft.ops.Drift.incrementalWasserstein(corpusCounts, df, valueCol)

    def maxSimTopK(idCol: String, textCol: String, terms: Seq[String],
        k: Int): DataFrame =
      Retrieval.maxSimTopK(df, idCol, textCol, terms, k)

    def routeByTopic(idCol: String, textCol: String,
        topics: Map[String, Seq[String]]): DataFrame =
      Retrieval.maxSimRoute(df, idCol, textCol, topics)

    def skewReport(keyCol: String, targetPerTask: Long,
        k: Int = 20): DataFrame =
      graft.ops.Salting.skewReport(df, keyCol, targetPerTask, k)

    def hilbertWrite(xCol: String, yCol: String, path: String,
        files: Int): Unit =
      StorageLayout.hilbertWrite(df, xCol, yCol, path, files)

    // --- round-12 sugar: manifests -----------------------------------------
    def shardManifest(idCol: String, textCol: String, shards: Int): DataFrame =
      graft.ops.Manifest.shardManifest(df, idCol, textCol, shards)
  }

  implicit class GraftTextColumn(private val text: Column) extends AnyVal {
    def languageId: Column = TextAnalysis.languageId(text)
    def tokenCount: Column = TextAnalysis.tokenCount(text)
    def uniqueTokenRatio: Column = TextAnalysis.uniqueTokenRatio(text)
    def stopwordRatio: Column = TextAnalysis.stopwordRatio(text)
    def fingerprint: Column = TextAnalysis.fingerprint(text)
    def qualityFlags: Column = TextAnalysis.qualityFlags(text)
    def maskWords(words: Seq[String], mask: String): Column =
      TextAnalysis.maskWords(text, words, mask)
    def redactPii: Column = TextAnalysis.redact(text, TextAnalysis.PiiRules)
    def normalized: Column = TextAnalysis.normalizeText(text)
  }

  implicit class GraftIdColumn(private val id: Column) extends AnyVal {
    def hashBucket(buckets: Int = 100): Column = Sampling.hashBucket(id, buckets)
    def splitAssign: Column = Sampling.splitAssign(id)
    def stratifiedKeep(stratum: Column, rates: Map[String, Int]): Column =
      Sampling.stratifiedKeep(id, stratum, rates)
  }

  implicit class GraftVectorColumn(private val v: Column) extends AnyVal {
    def dot(other: Column): Column = Similarity.dot(v, other)
    def cosine(other: Column): Column = Similarity.cosine(v, other)
  }
}
