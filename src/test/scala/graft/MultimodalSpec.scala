package graft

import graft.multimodal.Multimodal
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("metadata extraction stays columnar (byte_len, header, md5)") {
    import spark.implicits._
    val media = (0L until 50L).map { i =>
      (i, (s"MEDIA$i" * (3 + (i % 7)).toInt).getBytes("UTF-8"))
    }.toDF("doc_id", "media")
    val meta = Multimodal.mediaMetadata(media).collect()
    assert(meta.length == 50)
    val r0 = meta.find(_.getLong(0) == 0L).get
    assert(r0.getInt(1) == "MEDIA0".length * 3)
    assert(r0.getString(2) == "4D454449") // "MEDI"
  }
}
