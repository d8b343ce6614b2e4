package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming MinHash dedup (SURVEY north star, streaming form): documents
  * arrive on a stream; each is signed map-side with the native MinHash lane
  * expression and checked against all PREVIOUSLY seen signatures via
  * keyed state — the first document with a signature becomes its bucket's
  * keeper, later arrivals are flagged as duplicates of it.
  *
  * Scale shape: state is one long per distinct signature (the keeper id),
  * partitioned by signature hash across executors — the stream never
  * shuffles document text, only `(sig, doc_id)` pairs, and lookup is O(1)
  * per arriving doc. The same call works on a batch DataFrame (Spark runs
  * `flatMapGroupsWithState` in batch mode with empty initial state), which
  * is how the spec proves stream/batch parity.
  */
object StreamingDedup {

  /** Per-signature keeper record carried in stream state. */
  final case class Keeper(keeper: Long)
  /** Output row: the document, the signature bucket's keeper, dup flag. */
  final case class DedupVerdict(doc_id: Long, keeper: Long, is_dup: Boolean)

  /** Signature column: md5 over the joined MinHash lane minima
    * ([[graft.operators.Dedup.minhashLanes]], the batch joins' scheme) —
    * one string per document, computed in a single native pass (no
    * explode/shuffle).
    * NULL for shingle-less (empty/whitespace/null) docs: `concat_ws` would
    * otherwise resurrect the lanes' deliberate NULL to "", collapsing every
    * contentless doc into one md5("") bucket and flagging them duplicates
    * of each other — the batch twin (`Dedup.md5MinhashSignatures`) filters
    * these out, and the stream must agree (r14 review). */
  def signature(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val lanes = graft.operators.Dedup.minhashLanes(text)
    when(lanes.isNotNull, md5(concat_ws("|", lanes)))
  }

  /** Flag each arriving document against every signature seen so far on the
    * stream. Works identically on batch inputs (parity-tested). */
  def dedupStream(docs: DataFrame, idCol: String,
      textCol: String): Dataset[DedupVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val signed = docs
      .select(col(idCol).cast("long").as("doc_id"),
        signature(col(textCol)).as("sig"))
      .filter(col("sig").isNotNull) // contentless docs emit no verdict
      .as[(Long, String)]

    signed.groupByKey(_._2)
      .flatMapGroupsWithState[Keeper, DedupVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sig: String, rows: Iterator[(Long, String)], state: GroupState[Keeper]) =>
          // Deterministic within a micro-batch: the smallest id in the first
          // batch for a signature becomes keeper (matches batch MIN dedup).
          val ids = rows.map(_._1).toVector.sorted
          val keeper = state.getOption.map(_.keeper).getOrElse {
            val k = ids.head
            state.update(Keeper(k))
            k
          }
          ids.iterator.map(id => DedupVerdict(id, keeper, id != keeper))
      }
  }
}
