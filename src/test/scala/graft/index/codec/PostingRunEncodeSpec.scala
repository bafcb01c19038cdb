package graft.index.codec

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.index.{IndexBuilder, IndexConfig}
import graft.index.codec.VarbyteFunctions.{varbyteEncode, varbyteEncodeDelta}

/** The one-pass PostingRunEncode expression must produce byte-identical
  * output to the higher-order-function formulation it replaced (kept
  * here, in [[encodePostingRun]], as the executable spec). */
class PostingRunEncodeSpec extends SparkSpec {
  import spark.implicits._

  /** The higher-order-function formulation of
    * [[IndexBuilder.encodeIndexRows]]'s encoding, the executable
    * specification the fused encoder must match byte for byte.
    * Varbyte-only: the group-varint path is specified by its own codec
    * round-trip tests. */
  private def encodePostingRun(plist: Column, cfg: IndexConfig): Seq[Column] = {
    val n = size(plist)
    val nBlocks = ceil(n.cast("double") / cfg.blockSize).cast("int")
    val blocks = transform(sequence(lit(0), nBlocks - 1), i => struct(
      element_at(plist, least((i + 1) * cfg.blockSize, n))
        .getField("docId").as("maxDocId"),
      (i * cfg.blockSize).as("startIdx"),
      aggregate(slice(plist, i * cfg.blockSize + 1, lit(cfg.blockSize)),
        lit(0.0), (acc, x) => greatest(acc, x.getField("tfNorm")))
        .as("blockMax")))
    Seq(
      n.as("n"),
      varbyteEncodeDelta(transform(plist, x => x.getField("docId")))
        .as("docIds"),
      varbyteEncode(transform(plist, x => x.getField("tf").cast("bigint")))
        .as("tfs"),
      transform(plist, x => x.getField("posBlob")).as("positions"),
      blocks.as("blocks"))
  }

  test("fused encoder == HOF encoder, byte for byte (random runs)") {
    val rnd = new scala.util.Random(11)
    val cfg = IndexConfig(blockSize = 64)
    val runs = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(200)
      var doc = 0L
      val entries = (0 until n).map { _ =>
        doc += 1 + rnd.nextInt(50)
        val tf = 1 + rnd.nextInt(9)
        val poss = Array.iterate(rnd.nextInt(5).toLong, tf)(_ + 1 + rnd.nextInt(20))
        (doc, tf, rnd.nextDouble() * 2.5, Varbyte.encode(poss, delta = true))
      }
      (i.toLong, entries)
    }.toDF("rid", "entries")
      .select(col("rid"), lit("body").as("field"), lit("t").as("term"),
        col("rid").as("bucket"),
        transform(col("entries"), e => struct(
          e.getField("_1").as("docId"), e.getField("_2").as("tf"),
          e.getField("_3").as("tfNorm"), e.getField("_4").as("posBlob")))
          .as("plist"))

    val fused = IndexBuilder.encodeIndexRows(runs, cfg)
    val hof = runs
      .select(Seq(col("field"), col("term"), col("bucket")) ++
        encodePostingRun(col("plist"), cfg): _*)
      .withColumn("rowMax", aggregate(col("blocks"), lit(0.0),
        (acc, x) => greatest(acc, x.getField("blockMax"))))

    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("bucket").collect().map { r =>
        def hex(c: String) = r.getAs[Array[Byte]](c).map("%02x".format(_)).mkString
        (r.getAs[Long]("bucket"), r.getAs[Int]("n"), hex("docIds"), hex("tfs"),
          r.getAs[Seq[Array[Byte]]]("positions").map(_.toSeq),
          r.getAs[Seq[org.apache.spark.sql.Row]]("blocks")
            .map(b => (b.getLong(0), b.getInt(1), b.getDouble(2))),
          r.getAs[Double]("rowMax"))
      }.toSeq

    assert(snap(fused) == snap(hof))
  }
}
