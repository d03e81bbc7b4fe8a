package org.apache.spark.perfbench

import graft.sources.TokenGen
import graft.sources.TokenGen._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs of the `audit` and `token_pipeline` workloads, and their expected
  * answers in closed form.
  *
  * Each workload has one base table, generated once per checkout by
  * `TokenGen.tokenSequences` (a pure function of the row index, with planted
  * violations at prime periods) as `baseFiles` parquet files of
  * `rowsPerFile` consecutive rows each. A run reads a slice of `files`
  * consecutive files chosen by its seed, so the seed picks which rows the
  * engine sees (ids, tokens, where plants and clusters fall) without
  * regenerating anything. Expected answers are derived from row indices
  * alone, never by running the engine on the data. */
object Inputs {

  final case class Shape(rowsPerFile: Long, baseFiles: Int, files: Int, maxLen: Long) {
    def baseRows: Long = rowsPerFile * baseFiles
  }

  val Audit = Shape(rowsPerFile = 15625L, baseFiles = 64, files = 16, maxLen = 128L)
  val Pipeline = Shape(rowsPerFile = 2500L, baseFiles = 32, files = 8, maxLen = 128L)

  /** Near-duplicate clusters of the token_pipeline base table: one cluster
    * of `ClusterSize` consecutive rows in every `ClusterPeriod` (5% of docs).
    * Member 0 is the head, member 1 an exact copy of it, and member m ≥ 2
    * the window of the cluster's base sequence shifted by (m-1)·ClusterStep
    * tokens: neighbours share 60 of 62 3-shingles (Jaccard 0.94), the two
    * ends only 30 (0.32), so clusters are chains rather than cliques. */
  val ClusterSize = 18
  val ClusterPeriod = 360L
  val ClusterOffset = 7L
  val ClusterLen = 64
  val ClusterStep = 2

  /** Docs shorter than a shingle are dropped from the token_pipeline input:
    * they cannot take part in near-dup detection, and short sequences could
    * collide exactly by chance, which no closed form predicts. */
  val MinPipelineLen = 3

  private val Periods = Seq(InvariantPeriod, TokenMinPeriod, TokenMaxPeriod, EmptyPeriod,
    DupPeriod, UnregisteredPeriod, BadIdPeriod, NullSourcePeriod)

  private def base(spark: SparkSession, s: Shape): DataFrame =
    TokenGen.tokenSequences(spark, s.baseRows, numPartitions = s.baseFiles, maxLen = s.maxLen)

  /** One file per `spark.range` partition, in row order (no shuffle). */
  def auditTable(spark: SparkSession, s: Shape): DataFrame = base(spark, s)

  def pipelineTable(spark: SparkSession, s: Shape): DataFrame = {
    val m = new Model(s, 0, s.baseRows)
    import spark.implicits._
    val members = m.clusters.flatMap(c => (0 until ClusterSize).map(j => (m.docId(c + j), c, j))).toSeq
      .toDF("doc_id", "__c", "__m")
    val shift = greatest(col("__m") - 1, lit(0)) * ClusterStep
    val window = transform(sequence(lit(0), lit(ClusterLen - 1)), j =>
      pmod(xxhash64(col("__c"), shift + j), lit(VocabSize.toLong)).cast("int"))
    // the broadcast join keeps the range partitioning, so file p still
    // holds rows [p·rowsPerFile, (p+1)·rowsPerFile)
    base(spark, s).join(broadcast(members), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__c").isNull, col("tokens")).otherwise(window).as("tokens"),
        when(col("__c").isNull, col("n_tok")).otherwise(lit(ClusterLen)).as("n_tok"),
        col("source"))
      .where(size(col("tokens")) >= MinPipelineLen)
  }

  /** Row-index model of the rows [lo, hi) of a workload's base table: which
    * rows are planted, what id and length each has, and the answers the
    * workloads must get on that slice. */
  final class Model(s: Shape, lo: Long, hi: Long) {
    def rows: Long = hi - lo
    private def inSlice(i: Long) = i >= lo && i < hi
    /** Plant rows of period p inside the slice (row 0 is exempt). */
    private def hits(p: Long): Seq[Long] = (math.max(1L, (lo + p - 1) / p) to (hi - 1) / p).map(_ * p)
    private def is(p: Long)(i: Long) = i > 0 && i % p == 0
    private def count(p: Long): Long = hits(p).size.toLong

    def docId(i: Long): String =
      if (is(DupPeriod)(i)) f"doc-${i - 1}%012d"
      else if (is(BadIdPeriod)(i)) s"BAD_$i"
      else f"doc-$i%012d"

    /** Cluster start rows of the base table: every member is an ordinary
      * row (no plant, and not the row a duplicate-id plant copies). */
    lazy val clusters: IndexedSeq[Long] =
      Iterator.iterate(ClusterOffset)(_ + ClusterPeriod).takeWhile(_ + ClusterSize <= s.baseRows)
        .filter(c => (c to c + ClusterSize).forall(i => !Periods.exists(p => is(p)(i))))
        .toIndexedSeq
    private lazy val clustered: Set[Long] = clusters.flatMap(c => c until c + ClusterSize).toSet
    /** Members of each cluster inside the slice, as member numbers. */
    private lazy val inside: Seq[(Long, Seq[Int])] =
      clusters.map(c => c -> (0 until ClusterSize).filter(j => inSlice(c + j))).filter(_._2.nonEmpty)

    def length(i: Long): Long =
      if (clustered(i)) ClusterLen
      else if (is(EmptyPeriod)(i)) 0
      else i * 2654435761L % s.maxLen + 1

    // ---- audit: every row of the slice
    /** Violations per rule id of `AuditCli.tokenRulePack(maxLen = 8192)`. */
    def ruleCounts: Map[String, Long] = ruleCountsOver(_ => true)
    private def ruleCountsOver(in: Long => Boolean): Map[String, Long] = Map(
      "n_tok_invariant" -> InvariantPeriod,
      "minimum" -> TokenMinPeriod,
      "maximum" -> TokenMaxPeriod,
      "pattern" -> BadIdPeriod,
      "required" -> NullSourcePeriod).map { case (rule, p) => rule -> hits(p).count(in).toLong }
    /** A duplicate-id plant duplicates the row before it, when that row is
      * in the slice and does not carry a malformed id. */
    def duplicateKeys: Long = hits(DupPeriod).count(i => inSlice(i - 1) && !is(BadIdPeriod)(i - 1)).toLong
    def unregistered: Long = count(UnregisteredPeriod)
    def nullSources: Long = count(NullSourcePeriod)

    // ---- token_pipeline: rows shorter than MinPipelineLen are not in the table
    private def kept(i: Long): Boolean = length(i) >= MinPipelineLen
    def inputRows: Long = (lo until hi).count(kept).toLong
    /** Violations per rule id of `AuditCli.tokenRulePack(maxLen = 128)`. */
    def pipelineRuleCounts: Map[String, Long] = ruleCountsOver(kept)
    /** Rows the fail-closed step drops: a violation, or an id that is not
      * unique among the slice's rows. */
    private lazy val failClosed: Set[Long] = {
      val bad = Seq(InvariantPeriod, TokenMinPeriod, TokenMaxPeriod, BadIdPeriod, NullSourcePeriod)
        .flatMap(hits).filter(kept)
      val dup = hits(DupPeriod).filter(i => kept(i) && inSlice(i - 1) && kept(i - 1) && !is(BadIdPeriod)(i - 1))
        .flatMap(i => Seq(i, i - 1))
      (bad ++ dup).toSet
    }
    def validRows: Long = inputRows - failClosed.size
    /** The exact copy goes when its head is in the slice too. */
    def exactDupRows: Long = inside.count { case (_, m) => m.contains(0) && m.contains(1) }.toLong
    /** Members that reach near-dup detection, by cluster. */
    private lazy val nearDupInput: Seq[Seq[Long]] = inside.map { case (c, m) =>
      m.filterNot(j => j == 1 && m.contains(0)).map(c + _)
    }
    /** The planted near-dup links: consecutive members of each cluster
      * (Jaccard 0.94), each of which MinHash with 16 hashes in 8 bands of 2
      * misses with probability (1 - 0.9375²)⁸ ≈ 5e-8. */
    def plantedLinks: Seq[(String, String)] =
      nearDupInput.flatMap(ms => ms.zip(ms.tail).map { case (a, b) => (docId(a), docId(b)) })
    /** Each member that reaches near-dup detection, by doc id, mapped to the
      * min id of its cluster's members there: the component it must end in.
      * A cluster with one member there has no pair and no component. */
    def nearDupRoot: Map[String, String] = nearDupInput.filter(_.size > 1).flatMap { ms =>
      ms.map(i => docId(i) -> docId(ms.min))
    }.toMap
    /** Docs the near-dup collapse removes: all but the min of each cluster. */
    def nearDupRemoved: Long = nearDupInput.map(ms => math.max(ms.size - 1, 0)).sum.toLong
    /** Σ n_tok over the rows left after exact dedup. */
    def dedupedTokens: Long =
      (lo until hi).iterator.filter(i => kept(i) && !failClosed(i)).map(length).sum - exactDupRows * ClusterLen
  }
}
