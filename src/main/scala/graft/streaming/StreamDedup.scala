package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Dedup

/** Streaming near-dup candidate detection — the live twin of the batch
  * MinHash+LSH pipeline ([[graft.functions.Dedup.lshCandidatePairs]]) for
  * incremental corpus ingestion: as new documents stream in, each lands
  * in its banded min-hash buckets and pairs with every earlier document
  * sharing a bucket. The batch operator answers "which pairs exist in
  * this corpus"; this one answers "which pairs does each NEW document
  * create" — the shape a 100 TB training-data pipeline actually runs
  * day-over-day (dedupe the increment against the corpus, not the corpus
  * against itself).
  *
  * Mechanism: the signature rows are the same map-side expressions as the
  * batch path (identical md5 band signatures — [[Dedup.minhashBandsCol]]),
  * keyed by (band, sig); per-bucket state holds the doc-ids seen so far.
  * A new doc emits one pair per earlier bucket member. A pair colliding
  * in several bands emits once per band (at-least-once): downstream
  * verification is idempotent, or `dropDuplicates` collapses re-emissions
  * — the batch twin's `distinct()` made the same choice, just globally.
  *
  * State per bucket is the member id list — bounded by the true near-dup
  * cluster size plus the band false-positive rate, NOT corpus size (the
  * same argument as the batch inverted index). No timeout: a bucket
  * member can pair with a document arriving arbitrarily later; eviction
  * is a retention decision for the caller (restart the query per corpus
  * epoch, or clear checkpoints when the increment window closes).
  *
  * Scale: one keyed shuffle of |docs| × bands signature rows; state-store
  * backed (RocksDB on a cluster); no driver state.
  */
object StreamDedup {

  case class SigRow(sid: Long, band: Int, sig: String)
  case class Bucket(sids: Seq[Long])
  /** doc_a < doc_b (id order, like the batch operator). */
  case class CandPair(doc_a: Long, doc_b: Long)

  implicit private val sigEnc: Encoder[SigRow] = Encoders.product[SigRow]
  implicit private val bucketEnc: Encoder[Bucket] = Encoders.product[Bucket]
  implicit private val pairEnc: Encoder[CandPair] = Encoders.product[CandPair]
  implicit private val keyEnc: Encoder[(Int, String)] = Encoders.tuple(
    Encoders.scalaInt, Encoders.STRING)

  /** LSH candidate pairs over a streaming `docs` frame (`idCol`,
    * `textCol`). Signatures are bit-identical to the batch path, so on
    * the same data the emitted pair SET equals
    * `Dedup.lshCandidatePairs(...)` (parity spec). */
  def lshCandidates(docs: DataFrame, bands: Int,
                    idCol: String = "doc_id", textCol: String = "text"): Dataset[CandPair] = {
    // the silent alternative — cast("long") on a string id — yields nulls
    // that explode as NPEs deep inside encoder deserialization
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"StreamDedup.lshCandidates keys bucket state by a long doc id; '$idCol' is " +
          s"$other — map ids to an integral column upstream (the batch " +
          "Dedup.lshCandidatePairs accepts any id type)")
    }
    StreamPatterns.requireFmgwsEngine(docs.sparkSession)
    val sigRows = Dedup.minhashSignatureRows(
      Dedup.shingleArrays(docs, idCol, textCol), bands)
      .select(col("sid").cast("long").as("sid"), col("band").cast("int").as("band"),
        col("sig"))
      .as[SigRow]
    sigRows.groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState[Bucket, CandPair](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: (Int, String), it: Iterator[SigRow], state: GroupState[Bucket]) =>
          val seen = state.getOption.map(_.sids.toVector).getOrElse(Vector.empty)
          val (out, members) = emitPairs(seen, it)
          if (members.size != seen.size) state.update(Bucket(members))
          out.iterator
      }
  }

  /** Bucket-arrival emit: new members in id order (deterministic
    * intra-batch pairs, doc_a < doc_b), each pairing with every earlier
    * bucket member. Returns (pairs, members-after). */
  private def emitPairs(seen: Vector[Long], it: Iterator[SigRow])
  : (Vector[CandPair], Vector[Long]) = {
    val fresh = it.map(_.sid).toVector.distinct.sorted.filterNot(seen.contains)
    val out = Vector.newBuilder[CandPair]
    var members = seen
    fresh.foreach { sid =>
      members.foreach { other =>
        out += (if (other < sid) CandPair(other, sid) else CandPair(sid, other))
      }
      members :+= sid
    }
    (out.result(), members)
  }
}
