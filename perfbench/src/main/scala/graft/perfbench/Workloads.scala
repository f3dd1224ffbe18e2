package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.TrainQueries
import graft.data.{Dedup, IndexManifest}
import graft.etl.{ExportsEtl, ReportJob}

/** The four workloads. Each returns its samples and output checks; the
  * end-to-end and per-layer metrics are computed by run.py from these. */
object Workloads {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def ms(ops: Seq[Op]): Seq[Double] = ops.map(_.ms)

  /** Medians of the engine-layer metrics over the traced ops. */
  private def layerMedians(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val per = ops.filter(_.traced).map(ctx.rec.layers(_, ctx.cores))
    per.flatMap(_.keys).distinct.map(k => k -> median(per.flatMap(_.get(k)))).toMap
  }

  /** Ceiling on the share of a traced run's timed wall that no job and
    * no plan phase covers; above it the trace misses work. */
  val ShortfallCeiling = 0.75

  /** Trace accounting over the traced timed ops: self time per layer, the
    * uncovered share of their wall (`trace.shortfall_frac`, the self time
    * left to `driver`), and whether the spans plus that gap sum to the
    * wall with the gap under [[ShortfallCeiling]]. */
  private def account(rec: Recorder, timed: Seq[Op]): (Map[String, Double], Double, Boolean) = {
    val self = rec.selfTime(timed)
    val wall = timed.filter(_.traced).map(_.wallUs / 1e6).sum
    val gap = self.getOrElse("driver", 0.0)
    val shortfall = if (wall > 0) gap / wall else 1.0
    (self, shortfall,
      wall > 0 && math.abs(self.values.sum - wall) <= 0.01 * wall &&
        shortfall <= ShortfallCeiling)
  }

  /** The per-workload result fields every workload shares. With tracing
    * on, the trace accounting joins the checks and the layers. */
  private def result(ctx: Ctx, timed: Seq[Op], checks: ListMap[String, Any],
                     layers: => Map[String, Double]): ListMap[String, Any] =
    if (!ctx.rec.tracing)
      ListMap("checks" -> checks, "layers" -> Map.empty[String, Double],
        "self_time_s" -> Map.empty[String, Double])
    else {
      val (self, shortfall, ok) = account(ctx.rec, timed)
      ListMap("checks" -> (checks + ("trace_accounts_for_wall" -> ok)),
        "layers" -> (layers + ("trace.shortfall_frac" -> shortfall)),
        "self_time_s" -> self)
    }

  private def attempted(rec: Recorder): Int = rec.ops.count(_.parent == 0)

  private def walk(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) walk(f) else Seq(f)
    }

  private def dataFiles(root: String): Seq[java.io.File] =
    walk(new java.io.File(root)).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }

  // ---------------------------------------------------------------- monthly

  /** The operator's monthly run in a fresh JVM: quarantine split →
    * all-lenders report → per-lender CSVs → consolidated CSV. */
  def monthlyReport(ctx: Ctx): ListMap[String, Any] = {
    val spark = ctx.spark
    val (start, end) = (ctx.args("start"), ctx.args("end"))
    val out = s"${ctx.work}/report/out"
    val merged = s"${ctx.work}/report/merged"
    val view = spark.read.parquet(ctx.args("exports"))
    ctx.rec.op("report") { ReportJob.run(view, start, end, out, merged) }
    val doneUs = Clock.nowUs
    val report = ctx.rec.okOps("report")

    // ---- output checks (untimed)
    val (clean, _) = ReportJob.splitQuarantine(view)
    val expected = ExportsEtl.forAllLenders(clean, start, end)
    val wantLenders = expected.select("report_lender").distinct().collect()
      .map(_.getString(0)).toSet
    val gotLenders = Option(new java.io.File(out).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("report_lender="))
      .map(n => java.net.URLDecoder.decode(n.stripPrefix("report_lender="), "UTF-8"))
      .toSet
    val lendersOk = gotLenders == wantLenders &&
      gotLenders.size == ctx.args("lenders").toInt
    val want = rowHash(canonReport(expected.drop("report_lender"),
      date_format(col("time"), "yyyy-MM-dd HH:mm:ss")))
    val got =
      if (report.isEmpty) ("", 0L)
      else rowHash(canonReport(graft.operators.Csv.readTabCsvAllString(spark, merged),
        date_format(to_timestamp(col("time"), "yyyy-MM-dd HH:mm:ssxx"),
          "yyyy-MM-dd HH:mm:ss")))
    val poison = ctx.args("poison").split(",").filter(_.nonEmpty).map(_.toLong).toSet
    val quarantined =
      if (report.isEmpty) Set.empty[Long]
      else spark.read.parquet(s"$out/_quarantine").select("_tie").collect()
        .map(_.getLong(0)).toSet
    val checks = ListMap[String, Any](
      "lender_dirs" -> lendersOk,
      "consolidated_equals_forAllLenders" -> (report.nonEmpty && got == want && want._2 > 0),
      "quarantine_equals_poison" -> (quarantined == poison && poison.nonEmpty))
    val detail = ListMap(
      "lender_dirs" -> s"${gotLenders.size} dirs, ${wantLenders.size} expected",
      "consolidated_rows" -> s"${got._2} got, ${want._2} expected",
      "quarantined" -> s"${quarantined.size} got, ${poison.size} injected")

    def layers =
      if (report.isEmpty) Map.empty[String, Double]
      else {
        val op = report.head
        val js = ctx.rec.jobsOf(op)
        def wall(p: JobRec => Boolean) = js.filter(p).map(_.wallS).sum
        val files = dataFiles(out) ++ dataFiles(merged)
        layerMedians(ctx, report) ++ Map(
          "etl.writePerLender_s" -> wall(_.under("etl.ReportJob.writePerLender")),
          "etl.quarantine_s" -> wall(_.site.startsWith("etl.ReportJob.run:")),
          "etl.mergeAll_s" -> wall(_.under("etl.ReportJob.mergeAll")),
          "operators.Csv.jobs_s" -> wall(_.site.startsWith("operators.Csv.")),
          "etl.files_written" -> files.size.toDouble,
          "etl.bytes_written" -> files.map(_.length).sum.toDouble)
      }
    ListMap(
      "attempted" -> attempted(ctx.rec),
      "setup_op_s" -> Seq.empty[Double],
      "primary_ms" -> Seq.empty[Double], // the process wall: run.py measures it
      "secondary_ms" -> ms(report),
      "report_done_us" -> doneUs,
      "ops" -> report.size,
      "ops_wall_s" -> 0.0,
      "check_detail" -> detail) ++ result(ctx, report, checks, layers)
  }

  /** The consolidated CSV's columns at the types the source had, `time`
    * at the CSV dialect's seconds grain (the ref_s7 roundtrip casts). */
  private def canonReport(df: DataFrame, timeStr: org.apache.spark.sql.Column): DataFrame = {
    val longs = Seq("applicantCount", "applicantsWithHecs", "dependantsCount",
      "householdCount", "count_all_loan_purpose", "count_all_unique_scenario_id")
    val doubles = Seq("lvr", "paygIncome", "selfEmployedIncome",
      "totalProposedLoanAmount", "weeklyRentalIncome",
      "sum_all_total_proposed_loan_amount")
    val strings = Seq("associated_lender", "exportedLender", "loanPurpose",
      "lvrBucket", "primaryIncome", "rateType", "scenarioId", "transactionType",
      "performance")
    df.select(longs.map(c => col(c).cast("long").as(c)) ++
      doubles.map(c => col(c).cast("double").as(c)) ++
      strings.map(c => col(c).cast("string").as(c)) :+ timeStr.as("time_str"): _*)
  }

  /** Order-independent (sum of row hashes, row count); NULL and the empty
    * string hash alike, as the CSV dialect writes both as empty fields. */
  private def rowHash(df: DataFrame): (String, Long) = {
    val cells = df.columns.toSeq.map { c =>
      val s = col(c).cast("string")
      when(s.isNull || s === "", lit("∅")).otherwise(s)
    }
    val r = df.select(xxhash64(cells: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")).cast("string"), count(lit(1))).head()
    (r.getString(0), r.getLong(1))
  }

  // ---------------------------------------------------------------- warm

  val Headliners = Seq("ref_a1_dedup_latest", "ref_w1_global_aggs",
    "ref_j1_dim_join", "ref_q1_agg", "data_sim_cosine_topk",
    "ref_exports_pipeline_e2e", "ref_e2e_monthly_report")

  /** Warm query rounds: the seven headliners built once (prepared-
    * statement style), one untimed cache-filling round and two untimed
    * warm-up rounds, then closed-loop rounds of all seven in a seeded
    * order through a noop sink. */
  def queryWarm(ctx: Ctx): ListMap[String, Any] = {
    val dir = ctx.args("sf_dir")
    val rec = ctx.rec
    val rng = new scala.util.Random(ctx.seed)
    def save(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // one seeded order for every round of the run
    val order = rng.shuffle(Headliners)
    def round(built: Map[String, DataFrame], traced: Boolean = rec.tracing,
              sink: (String, DataFrame) => Unit = (_, df) => save(df)): Unit =
      order.foreach { n =>
        if (rec.op(s"query:$n", traced)(sink(n, built(n))).isEmpty)
          throw new RuntimeException(s"$n failed")
      }
    // set-up: build the seven plans once, cold. Then one untimed round
    // fills the hot-table caches and warms the JIT; it writes each
    // result for the DuckDB oracle check.
    val checkDir = s"${ctx.work}/check"
    val built = rec.op("setup")(ListMap(Headliners.map(n =>
      n -> graft.Registry.byName(n).build(ctx.spark, dir)): _*))
    val setupS = rec.okOps("setup").map(_.wallUs / 1e6)
    built.foreach(b => rec.op("fill", traced = false)(round(b, traced = false, (n, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n"))))
    // round times keep falling for a few rounds after the fill (JIT); two
    // more untimed rounds reach the flat part
    if (rec.okOps("fill").nonEmpty) rec.op("warmup", traced = false) {
      round(built.get, traced = false); round(built.get, traced = false)
    }
    val t0 = System.nanoTime()
    var i = 0
    while (rec.okOps("warmup").nonEmpty &&
      ((System.nanoTime() - t0) / 1e9 < ctx.seconds || i < 3)) {
      rec.op("round")(round(built.get))
      i += 1
    }
    val rounds = rec.okOps("round")
    val queries = rec.ops.filter(o => o.ok && o.kind.startsWith("query:") &&
      rounds.exists(_.id == o.parent)).toSeq
    val queryP50 = ListMap(Headliners.map(n =>
      n -> median(ms(queries.filter(_.kind == s"query:$n")))): _*)

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"),
      Json(ListMap(Headliners.map(n => n -> graft.SparkEntry.oracleSql(n)): _*))
        .getBytes("UTF-8"))

    def layers = layerMedians(ctx, rounds) ++ Headliners.flatMap { n =>
      val per = queries.filter(_.kind == s"query:$n").map(rec.layers(_, ctx.cores))
      def med(k: String) = median(per.map(_(k)))
      Seq(s"query.$n.p50_ms" -> queryP50(n),
        s"query.$n.plan_ms" -> median(per.map(l =>
          l("plan.analysis_ms") + l("plan.optimizer_ms") + l("plan.physical_ms"))),
        s"query.$n.stages" -> med("exec.stages"),
        s"query.$n.tasks" -> med("exec.tasks"))
    }
    ListMap(
      "attempted" -> attempted(rec),
      "setup_op_s" -> setupS,
      "primary_ms" -> ms(rounds),
      // a typical single headliner: the geometric mean of their p50s
      "secondary_ms" -> (if (rounds.isEmpty) Seq.empty[Double] else
        Seq(math.exp(queryP50.values.map(math.log).sum / queryP50.size))),
      "query_p50_ms" -> queryP50,
      "ops" -> rounds.size,
      "ops_wall_s" -> rounds.map(_.wallUs / 1e6).sum,
      "oracle_dir" -> checkDir) ++
      result(ctx, rounds, ListMap("oracle" -> "pending"), layers)
  }

  // ---------------------------------------------------------------- index

  private val CellWords = 4

  /** The maintained exact-cell index under a read/write mix: serves of
    * seeded filtered slices, one append of the next held-out batch per
    * cycle, and a compaction plus vacuum every second cycle. */
  def indexMaintain(ctx: Ctx): ListMap[String, Any] = {
    val spark = ctx.spark
    val rec = ctx.rec
    val rng = new scala.util.Random(ctx.seed)
    val docs = spark.read.parquet(ctx.args("docs"))
    val corpusN = ctx.args("corpus").toLong
    val batchN = ctx.args("batch").toLong
    val nBatches = ctx.args("batches").toInt
    val path = s"${ctx.work}/index"
    def cells(df: DataFrame) = Dedup.cellHashes(df, "doc_id", "text", CellWords)
    def range(lo: Long, n: Long) = col("doc_id") >= lo && col("doc_id") < lo + n

    // set-up: build the index over the corpus from scratch, cold
    val setup = rec.op("setup") {
      Dedup.writeCellIndex(docs.where(col("doc_id") < corpusN), "doc_id",
        "text", CellWords, path)
    }
    val setupS = rec.okOps("setup").map(_.wallUs / 1e6)
    var appended = 0
    def indexed: Long = corpusN + appended * batchN
    // a serve batch arrives as a filtered slice (the DPP caveat): one
    // batch's worth of documents, 60 % already indexed and the head of
    // the next held-out batch
    val known = batchN * 3 / 5
    def serveSlice(): DataFrame = {
      val lo = (rng.nextDouble() * (indexed - known)).toLong
      docs.where(range(lo, known) || range(indexed, batchN - known))
    }
    def screen(slice: DataFrame): Array[Row] =
      Dedup.indexedCellScreen(cells(slice), IndexManifest.readData(spark, path),
        "doc_id").collect()
    def liveBytes(): Double = IndexManifest.load(spark, path).get.dataFiles
      .map(f => new java.io.File(s"$path/$f").length).sum.toDouble

    var reserveFailures = 0
    val novel = scala.collection.mutable.ArrayBuffer.empty[Double]
    val scanFrac = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var cycle = 0
    while (setup.isDefined &&
      ((System.nanoTime() - t0) / 1e9 < ctx.seconds || cycle < 3)) {
      for (_ <- 1 to 2) {
        val slice = serveSlice()
        rec.op("serve") {
          val idx = rec.op("IndexManifest.readData")(
            IndexManifest.readData(spark, path)).get
          rec.op("Dedup.indexedCellScreen")(
            Dedup.indexedCellScreen(cells(slice), idx, "doc_id").collect()).get
        }
        // the serve's reads of the index itself, not of the batch
        if (rec.tracing) rec.ops.lastOption.filter(_.ok).foreach { o =>
          scanFrac += rec.scanBytesUnder(o, path) / liveBytes()
        }
      }
      if (appended < nBatches) {
        val batch = docs.where(range(indexed, batchN))
        val before = if (rec.tracing) IndexManifest.readData(spark, path).count() else 0L
        val ok = rec.op("append")(Dedup.appendCellIndex(cells(batch), path)).isDefined
        if (ok) {
          if (rec.tracing) novel += (IndexManifest.readData(spark, path).count() - before)
            .toDouble / cells(batch).select("cell_hash").distinct().count()
          // after an append, re-serving that batch finds every cell
          if (!screen(batch).forall(r => r.getAs[Long]("n_dup_cells") ==
            r.getAs[Long]("n_cells"))) reserveFailures += 1
          appended += 1
        }
      }
      if (cycle % 2 == 1) {
        rec.op("compact")(Dedup.compactIndex(spark, path, maxFilesPerShard = 2,
          retainVersions = 2))
        rec.op("vacuum")(IndexManifest.vacuum(spark, path, keepLast = 2))
      }
      cycle += 1
    }
    val serves = rec.okOps("serve")
    val appends = rec.okOps("append")
    val timed = serves ++ appends ++ rec.okOps("compact") ++ rec.okOps("vacuum")

    // ---- final probe (untimed): the stored-index serve equals the
    // incremental screen against the corpus indexed so far
    val probe = serveSlice()
    def key(rows: Array[Row]) = rows.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_cells"), r.getAs[Long]("n_dup_cells"))).toSet
    val served = if (setup.isDefined) key(screen(probe)) else Set.empty
    val truth = key(Dedup.incrementalCellScreen(probe, docs.where(col("doc_id") < indexed),
      "doc_id", "text", CellWords).collect())
    val checks = ListMap[String, Any](
      "reserve_all_duplicate" -> (reserveFailures == 0 && appends.nonEmpty),
      "probe_equals_incremental" -> (served == truth && served.nonEmpty))
    val detail = ListMap(
      "appends" -> s"${appends.size} appends, $reserveFailures re-serves not all-duplicate",
      "probe" -> s"${served.size} docs served, ${truth.size} expected")

    def layers = {
      val snap = IndexManifest.load(spark, path).get
      val onDisk = walk(new java.io.File(path)).map(_.length).sum.toDouble
      layerMedians(ctx, serves) ++ Map(
        "IndexManifest.readData_ms" -> median(ms(rec.okOps("IndexManifest.readData"))),
        "Dedup.indexedCellScreen_ms" -> median(ms(rec.okOps("Dedup.indexedCellScreen"))),
        "IndexManifest.serve_scan_frac" -> median(scanFrac.toSeq),
        "Dedup.appendCellIndex_ms" -> median(ms(appends)),
        "Dedup.novel_frac" -> median(novel.toSeq),
        "IndexManifest.manifest_bytes" ->
          median(appends.map(_.counters.getOrElse("IndexManifest.manifest_bytes", 0.0))),
        "IndexManifest.dir_listings" ->
          median(appends.map(_.counters.getOrElse("IndexManifest.dir_listings", 0.0))),
        "Dedup.compactIndex_s" -> median(ms(rec.okOps("compact"))) / 1e3,
        "IndexManifest.vacuum_ms" -> median(ms(rec.okOps("vacuum"))),
        "IndexManifest.versions_retained" ->
          IndexManifest.versions(spark, path).size.toDouble,
        "IndexManifest.index_files" -> snap.dataFiles.size.toDouble,
        "IndexManifest.bytes_per_live_byte" -> onDisk / liveBytes())
    }
    ListMap(
      "attempted" -> attempted(rec),
      "setup_op_s" -> setupS,
      "primary_ms" -> ms(serves),
      "secondary_ms" -> ms(appends),
      "ops" -> timed.size,
      "ops_wall_s" -> timed.map(_.wallUs / 1e6).sum,
      "check_detail" -> detail) ++ result(ctx, timed, checks, layers)
  }

  // ---------------------------------------------------------------- lineage

  val Hops = Seq("fate", "prune", "shards", "mirror")

  /** The four-hop manifest-pinned pipeline in a fresh JVM: built into an
    * empty base over slice A (its own table dir), then advanced over the
    * full corpus, with the full dir as the frozen vocabulary of both. */
  def lineageBuild(ctx: Ctx): ListMap[String, Any] = {
    val spark = ctx.spark
    val rec = ctx.rec
    val full = ctx.args("full_dir")
    val base = s"${ctx.work}/lineage"
    def run(src: String): Unit =
      TrainQueries.pipelineLineage(spark, src, base, vocabDir = Some(full))

    // after each run (untimed): each hop is pinned to its upstream's
    // head; after the advance, every mirrored record passes its CRC and
    // round-trips to the shard row it was framed from
    def pinsOk(): (Boolean, String) = {
      def head(hop: String) = IndexManifest.load(spark, s"$base/$hop").get.version
      def pin(hop: String, artifact: String) =
        IndexManifest.readArtifact(spark, s"$base/$hop", artifact).head().getLong(0)
      val pins = Seq(("corpus", pin("corpus", "lineage"), head("fate")),
        ("shards", pin("shards", "lineage"), head("corpus")),
        ("tfr", pin("tfr", "src"), head("shards")))
      (pins.forall(p => p._2 == p._3),
        pins.map(p => s"${p._1} pinned ${p._2}, upstream head ${p._3}").mkString("; "))
    }
    val built = rec.op("build")(run(ctx.args("slice_dir"))).map(_ => pinsOk())
    val advanced = built.flatMap(_ => rec.op("advance")(run(full))).map(_ => pinsOk())
    val mirror =
      if (advanced.isEmpty) Array.empty[Row]
      else TrainQueries.tfrFileAggregate(spark, s"$base/shards", s"$base/tfr").collect()
    val build = rec.okOps("build")
    val advance = rec.okOps("advance")
    val timed = build ++ advance
    val checks = ListMap[String, Any](
      "mirror_roundtrip" -> (mirror.nonEmpty && mirror.forall { r =>
        val n = r.getAs[Long]("n_records")
        n > 0 && r.getAs[Long]("n_crc_ok") == n && r.getAs[Long]("n_roundtrip_ok") == n
      }),
      "upstream_pins" -> Seq(built, advanced).forall(_.exists(_._1)))
    val detail = ListMap("build" -> built.fold("failed")(_._2),
      "advance" -> advanced.fold("failed")(_._2),
      "mirror" -> s"${mirror.length} shards, ${mirror.map(_.getAs[Long]("n_records")).sum} records")

    // each job goes to the hop whose lines of pipelineLineage launched it
    // (run.py passes the first line of each hop)
    val hopLines = ctx.args("hop_lines").split(",").filter(_.nonEmpty).map(_.toInt).toSeq
    def hopOf(j: JobRec): Option[String] = j.frames
      .find(_.startsWith("TrainQueries.pipelineLineage:"))
      .map(_.dropWhile(_ != ':').drop(1).toInt)
      .filter(_ => hopLines.size == Hops.size)
      .map(line => Hops(math.max(0, hopLines.lastIndexWhere(_ <= line))))
    def layers = build.headOption.map { op =>
      val js = rec.jobsOf(op).filter(_.endMs >= 0)
      layerMedians(ctx, build) ++ Hops.map { h =>
        val iv = js.filter(hopOf(_).contains(h)).map(j => (j.startMs * 1000L, j.endMs * 1000L))
        s"lineage.${h}_s" -> Recorder.union(iv, op.startUs, op.endUs) / 1e6
      } + ("lineage.jobs" -> js.size.toDouble)
    }.getOrElse(Map.empty[String, Double])
    ListMap(
      "attempted" -> attempted(rec),
      "setup_op_s" -> Seq.empty[Double],
      "primary_ms" -> ms(build),
      "secondary_ms" -> ms(advance),
      "ops" -> timed.size,
      "ops_wall_s" -> timed.map(_.wallUs / 1e6).sum,
      "check_detail" -> detail) ++ result(ctx, timed, checks, layers)
  }
}
