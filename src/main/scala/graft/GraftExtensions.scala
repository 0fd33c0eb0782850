package graft

import graft.functions.{CosineSimilarity, MediaStats, MinHashSig, NearestCentroid, NGramHashes, SimHashSig, SquaredL2, TermCounts, TermFreqStats, WordShingleHashes, WordWindowHashes}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions injector for the engine's native functions.
  * [[GraftSession.builder]] installs it through `spark.sql.extensions`.
  * For a session that already exists (test fixtures, spark-shell),
  * [[GraftExtensions.register]] installs the same functions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((CosineSimilarity.identifier, CosineSimilarity.info, CosineSimilarity.builder))
    ext.injectFunction((NGramHashes.identifier, NGramHashes.info, NGramHashes.builder))
    ext.injectFunction((WordShingleHashes.identifier, WordShingleHashes.info, WordShingleHashes.builder))
    ext.injectFunction((WordWindowHashes.identifier, WordWindowHashes.info, WordWindowHashes.builder))
    ext.injectFunction((MinHashSig.identifier, MinHashSig.info, MinHashSig.builder))
    ext.injectFunction((SimHashSig.identifier, SimHashSig.info, SimHashSig.builder))
    ext.injectFunction((TermFreqStats.identifier, TermFreqStats.info, TermFreqStats.builder))
    ext.injectFunction((NearestCentroid.identifier, NearestCentroid.info, NearestCentroid.builder))
    ext.injectFunction((TermCounts.identifier, TermCounts.info, TermCounts.builder))
    ext.injectFunction((SquaredL2.identifier, SquaredL2.info, SquaredL2.builder))
    ext.injectFunction((MediaStats.identifier, MediaStats.info, MediaStats.builder))
  }
}

object GraftExtensions {
  def register(spark: SparkSession): Unit = {
    CosineSimilarity.register(spark.sessionState.functionRegistry)
    NGramHashes.register(spark.sessionState.functionRegistry)
    WordShingleHashes.register(spark.sessionState.functionRegistry)
    WordWindowHashes.register(spark.sessionState.functionRegistry)
    MinHashSig.register(spark.sessionState.functionRegistry)
    SimHashSig.register(spark.sessionState.functionRegistry)
    TermFreqStats.register(spark.sessionState.functionRegistry)
    NearestCentroid.register(spark.sessionState.functionRegistry)
    TermCounts.register(spark.sessionState.functionRegistry)
    SquaredL2.register(spark.sessionState.functionRegistry)
    MediaStats.register(spark.sessionState.functionRegistry)
  }
}
