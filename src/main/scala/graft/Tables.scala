package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture-table access + derived vector fixtures (FIXTURES.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Adapter for the events fixture's on-disk `ts` encoding.
    *
    * The fixture has shipped two encodings so far — TIMESTAMP(NANOS),
    * which Spark surfaces as nanos-as-long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, and (since the r7
    * regeneration) TIMESTAMP_NTZ microseconds — and nothing guarantees
    * it won't change again. Hard-coding one encoding cost 11 queries in
    * round 7, so every consumer now branches on the LOADED schema via
    * this codec instead. The reference is schema-tolerant in the same
    * spirit (Qdrant payloads are schemaless;
    * `with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:260-267`
    * stores whatever dict it is handed).
    *
    * All conversions are exact: integer arithmetic for the long
    * encodings, and NTZ↔LTZ casts that are identities under the UTC
    * session timezone that [[GraftSession]] pins for every entry point.
    */
  sealed trait TsCodec {
    /** raw `ts` → session TimestampType (epoch µs under UTC). */
    def toTimestamp: Column
    /** raw `ts` → epoch microseconds as BIGINT. */
    def toMicros: Column
    /** epoch microseconds → the raw on-disk encoding, for fabricating
      * rows that must union with the fixture (stream sentinels,
      * replayed tails). */
    def fromMicros(us: Column): Column
  }

  /** TIMESTAMP(NANOS) read as nanos-as-long. Integer `div` keeps full
    * precision — a double division would lose it above 2^53 ns. */
  case object TsNanosAsLong extends TsCodec {
    val toTimestamp: Column = timestamp_micros(expr("ts div 1000"))
    val toMicros: Column = expr("ts div 1000")
    def fromMicros(us: Column): Column = (us * lit(1000L)).cast(LongType)
  }

  /** TIMESTAMP_NTZ microseconds (the current fixture encoding). */
  case object TsMicrosNtz extends TsCodec {
    val toTimestamp: Column = col("ts").cast(TimestampType)
    val toMicros: Column = unix_micros(col("ts").cast(TimestampType))
    def fromMicros(us: Column): Column =
      timestamp_micros(us).cast(TimestampNTZType)
  }

  /** UTC-adjusted TIMESTAMP microseconds. */
  case object TsMicrosLtz extends TsCodec {
    val toTimestamp: Column = col("ts")
    val toMicros: Column = unix_micros(col("ts"))
    def fromMicros(us: Column): Column = timestamp_micros(us)
  }

  /** Content stamp of a fixture path (every file's ROOT-RELATIVE path,
    * size, and full-resolution mtime, recursively): the memo key for
    * scaffolding derived from a fixture — the fixtures are regenerated
    * IN PLACE between rounds, so any cache keyed on the path alone
    * would serve stale derivations (the binaryTree lesson). Cheap: a
    * stat walk, no file reads.
    *
    * Stamp ingredients matter: the relative path (not just the file
    * NAME — same-named files in different subdirs must be
    * distinguishable) and the mtime at the filesystem's full
    * resolution via toInstant (epoch seconds + nanos — a millis-only
    * stamp would collide with an in-place regeneration landing in the
    * same millisecond with identical sizes, silently serving the stale
    * derivation the key exists to prevent). The walk stream is closed
    * (try/finally): Files.walk holds a directory-stream fd per level
    * until closed, and this runs on every memoized-source call. */
  private[graft] def contentStamp(path: String): String = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    val sb = new StringBuilder(p.toString)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted().forEach { f =>
        val mt = Files.getLastModifiedTime(f).toInstant
        sb.append('|').append(p.relativize(f)).append(':')
          .append(Files.size(f)).append(':')
          .append(mt.getEpochSecond).append('.').append(mt.getNano)
      } finally walk.close()
    }
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  /** Pick the codec for a loaded events schema; loud on anything new. */
  def tsCodec(schema: StructType): TsCodec = schema("ts").dataType match {
    case LongType          => TsNanosAsLong
    case TimestampNTZType  => TsMicrosNtz
    case TimestampType     => TsMicrosLtz
    case other => throw new IllegalArgumentException(
      s"events.ts stored as $other — add a Tables.TsCodec for this encoding")
  }

  /** events with `ts` normalized to TimestampType, whatever the
    * fixture's on-disk encoding (see [[TsCodec]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.withColumn("ts", tsCodec(raw.schema).toTimestamp)
  }

  /** ColBERT-style multi-vector fixture (FIXTURES.md §1): group the
    * dense vectors into synthetic docs, doc_id = vec_id % 50, token
    * vectors ordered by vec_id. Stands in for the reference's
    * ~1030×128d ColPali page matrices
    * (`with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:54-55,110`).
    * One hash-shuffle on doc_id; at scale this is the natural layout
    * step for a multi-vector collection (co-locates a doc's tokens). */
  def multiVectorDocs(embeddings: DataFrame): DataFrame =
    embeddings
      .groupBy((col("vec_id") % 50).as("doc_id"))
      .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding")))).as("toks"))
      .select(col("doc_id"), transform(col("toks"), s => s("embedding")).as("vecs"))

  /** DuckDB equivalent of [[multiVectorDocs]] as a CTE body. */
  val duckMultiVectorDocs: String =
    "SELECT vec_id % 50 AS doc_id, list(embedding ORDER BY vec_id) AS vecs FROM embeddings GROUP BY 1"
}
