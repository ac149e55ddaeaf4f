package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}

/** Fixed-grid pooling over opaque binary payloads — the "resize" shape
  * of the multimodal family (decode slot: q51, frame sampling: q66).
  * A variable-length payload reduces to a fixed 8-cell grid of exact
  * integer statistics, the contract every image-resize / audio-frame
  * featurizer has: opaque bytes in, fixed-width typed vector out,
  * computed partition-wise (the decode library loads once per
  * partition, not per row). The pooling itself is a STUB for a real
  * pixel/PCM decode — deterministic byte sums stand in — but the
  * Spark-side plumbing (typed Dataset, mapPartitions batching, fixed
  * output schema, zero shuffles) is the real, tested artifact.
  */
object Multimodal {
  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q124_binary_pool8",
      (s, d) => {
        import s.implicits._
        val cells = 8
        Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { iter =>
            // partition-wise: a real decoder would be constructed HERE,
            // once, and amortized over the whole batch of rows
            iter.map { case (id, payload) =>
              val n = payload.length
              val pool = Array.tabulate(cells) { w =>
                // cell w covers byte indices [w*n/8, (w+1)*n/8) — the
                // same floor-division grid an image resize uses
                var acc = 0L
                var i = w * n / cells
                val hi = (w + 1) * n / cells
                while (i < hi) { acc += payload(i) & 0xff; i += 1 }
                acc
              }
              (id, n.toLong, pool)
            }
          }
          .toDF("doc_id", "n_bytes", "pool")
          .select(
            (col("doc_id") +: col("n_bytes") +:
              (0 until cells).map(w => element_at(col("pool"), w + 1).as(s"p$w"))): _*)
      },
      // the corpus is ASCII, so byte w of the payload is ascii(char w+1)
      // — the oracle rebuilds the same floor-division grid in SQL
      Some {
        val cellCols = (0 until 8).map { w =>
          s"""CAST(coalesce(list_sum(list_transform(
                range((($w * n) // 8) + 1, ((${w + 1} * n) // 8) + 1),
                i -> ascii(substr(text, CAST(i AS INTEGER), 1)))), 0) AS BIGINT) AS p$w"""
        }.mkString(",\n               ")
        s"""
        SELECT doc_id, n AS n_bytes,
               $cellCols
        FROM (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS n
              FROM documents)"""
      },
    ),
  )
}
