package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Media as opaque `binary` columns: typed metadata read straight off
  * the bytes, with no decode (`q_media_meta`).
  */
object Multimodal {

  /** Columnar metadata over the opaque binary — no decode needed, stays
    * in whole-stage codegen: byte length, 4-byte magic header, md5.
    */
  def mediaMetadata(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      length(col("media")).as("byte_len"),
      hex(substring(col("media"), 1, 4)).as("header_hex"),
      md5(col("media")).as("media_md5"))
}
