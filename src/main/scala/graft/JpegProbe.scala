package graft

import org.apache.spark.sql.functions._

import graft.data.Multimodal

/** Tolerance-band measurement for the JPEG query (the fixed bands its
  * booleans embed must hold corpus-wide at every SF): prints the maximum
  * per-pixel absolute error and per-doc mean drift of the
  * encode→decode roundtrip over a testdata directory. Not part of the
  * driver contract.
  */
object JpegProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val quality = args.lift(1).map(_.toInt).getOrElse(90)
    val spark = Sessions.local(32, aqe = true)
    graft.functions.JpegFunctions.register(spark)
    import graft.functions.JpegFunctions._
    val W = Multimodal.BmpWidth
    val px = Multimodal.fullRowPixels(col("text"))
    val df = Tables.documents(spark, sfDir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), px.as("px"))
      .select(col("doc_id"), col("px"),
        jpeg_encode_gray(col("px"), W, quality).as("payload"))
      .select(col("doc_id"), col("px"),
        media_decode_jpeg(col("payload")).getField("pixels").as("dec"))
      .select(col("doc_id"),
        aggregate(zip_with(col("dec"), col("px"),
          (d, s) => abs(d - s)), lit(0), (a, x) => greatest(a, x))
          .as("max_err"),
        abs(aggregate(col("dec"), lit(0L), (a, x) => a + x).cast("double")
            / size(col("dec"))
          - aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double")
            / size(col("px"))).as("mean_drift"))
    val row = df.agg(max(col("max_err")), max(col("mean_drift")),
      count(lit(1))).head()
    if (row.getLong(2) == 0L) println("[jpegprobe] docs=0 (nothing to measure)")
    else println(s"[jpegprobe] q=$quality max_pixel_err=${row.get(0)} " +
      f"max_mean_drift=${row.getDouble(1)}%.3f docs=${row.getLong(2)}")

    // rgb mode: max per-channel pixel error + per-channel mean drift
    // over the packed 0xRRGGBB derivation the color query uses
    import org.apache.spark.sql.Column
    def ch(c: Column, s: Int): Column =
      (if (s == 0) c else shiftright(c, s)).bitwiseAND(lit(255))
    val codes = Multimodal.textCodes(col("text"), 64)
    val packedPx = transform(codes, c =>
      pmod(c, lit(256)) * 65536 + pmod(c * 3 + 7, lit(256)) * 256 +
        pmod(c * 5 + 11, lit(256)))
    val pxr = slice(packedPx, lit(1),
      floor(size(packedPx) / W).cast("int") * W)
    def drift(shift: Int): Column =
      abs(aggregate(col("dec"), lit(0L),
          (a, x) => a + ch(x, shift).cast("long")).cast("double")
          / size(col("dec"))
        - aggregate(col("px"), lit(0L),
            (a, x) => a + ch(x, shift).cast("long")).cast("double")
          / size(col("px")))
    def luma(c: Column): Column =
      ((ch(c, 16) * 299 + ch(c, 8) * 587 + ch(c, 0) * 114) / 1000)
        .cast("int")
    val rgb = Tables.documents(spark, sfDir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), pxr.as("px"))
      .select(col("doc_id"), col("px"),
        media_decode_jpeg_rgb(jpeg_encode_rgb(col("px"), W, quality))
          .getField("pixels").as("dec"))
      .select(col("doc_id"),
        aggregate(zip_with(col("dec"), col("px"), (d, s) =>
          greatest(abs(ch(d, 16) - ch(s, 16)), abs(ch(d, 8) - ch(s, 8)),
            abs(ch(d, 0) - ch(s, 0)))),
          lit(0), (a, x) => greatest(a, x)).as("max_err"),
        aggregate(zip_with(col("dec"), col("px"),
          (d, s) => abs(luma(d) - luma(s))),
          lit(0), (a, x) => greatest(a, x)).as("max_luma_err"),
        drift(16).as("dr"), drift(8).as("dg"), drift(0).as("db"))
    val r2 = rgb.agg(max(col("max_err")), max(col("max_luma_err")),
      max(col("dr")), max(col("dg")), max(col("db")), count(lit(1))).head()
    if (r2.getLong(5) == 0L) println("[jpegprobe-rgb] docs=0")
    else println(s"[jpegprobe-rgb] q=$quality max_pixel_err=${r2.get(0)} " +
      s"max_luma_err=${r2.get(1)} " +
      f"max_drift_r=${r2.getDouble(2)}%.3f g=${r2.getDouble(3)}%.3f " +
      f"b=${r2.getDouble(4)}%.3f docs=${r2.getLong(5)}")

    // timed phase decomposition of the gray query (the 3.3× row): how
    // much of the wall clock is pixels / +encode / +decode / +folds
    def base = Tables.documents(spark, sfDir)
      .where(col("text").isNotNull && length(col("text")) >= W)
      .select(col("doc_id"), px.as("px"))
    def timed(label: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.count() // warm
      val t0 = System.nanoTime()
      df.count()
      println(f"[jpegprobe-time] $label%-14s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    timed("pixels") {
      base.select(aggregate(col("px"), lit(0L), (a, x) => a + x).as("s"))
        .where(col("s") > Long.MinValue)
    }
    timed("encode") {
      base.select(octet_length(
          jpeg_encode_gray(col("px"), W, quality)).as("n"))
        .where(col("n") > 0)
    }
    timed("enc+decode") {
      base.select(media_decode_jpeg(
          jpeg_encode_gray(col("px"), W, quality)).getField("n_values").as("n"))
        .where(col("n") > 0)
    }
    timed("full-folds") {
      base.select(col("px"),
          media_decode_jpeg(jpeg_encode_gray(col("px"), W, quality)).as("m"))
        .select(
          (abs(col("m.sum_val").cast("double") / col("m.n_values")
            - aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double")
              / size(col("px"))) <= 2.0).as("a"),
          (aggregate(zip_with(col("m.pixels"), col("px"),
            (d, s) => abs(d - s)),
            lit(0), (a, x) => greatest(a, x)) <= 64).as("b"))
        .where(col("a") || col("b"))
    }

    // fused-path decomposition (what the shipped queries actually run):
    // scan+pixels / +encode / full fused roundtrip, gray and color
    graft.functions.TextPixelFunctions.register(spark)
    import graft.functions.TextPixelFunctions._
    def docs = Tables.documents(spark, sfDir)
      .where(col("text").isNotNull && length(col("text")) >= W)
    timed("g:pixels") {
      docs.select(size(text_gray_pixels(col("text"), 64, W)).as("n"))
        .where(col("n") >= 0)
    }
    timed("g:encode") {
      docs.select(octet_length(jpeg_encode_gray(
          text_gray_pixels(col("text"), 64, W), W, quality)).as("n"))
        .where(col("n") > 0)
    }
    timed("g:fused") {
      docs.select(jpeg_roundtrip_gray(text_gray_pixels(col("text"), 64, W),
          W, quality, 64, 2.0).getField("valid").as("v"))
        .where(col("v"))
    }
    timed("c:pixels") {
      docs.select(size(text_rgb_pixels(col("text"), 64, W)).as("n"))
        .where(col("n") >= 0)
    }
    timed("c:encode") {
      docs.select(octet_length(jpeg_encode_rgb(
          text_rgb_pixels(col("text"), 64, W), W, quality)).as("n"))
        .where(col("n") > 0)
    }
    timed("c:fused") {
      docs.select(jpeg_roundtrip_rgb(text_rgb_pixels(col("text"), 64, W),
          W, quality, 64, 12.0).getField("valid").as("v"))
        .where(col("v"))
    }
    spark.stop()
  }
}
