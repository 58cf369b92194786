package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions.{col, lit, max}

/** The JVM side of the benchmark: drives the engine through its public
  * surface only (`graft.SparkEntry.queries`, SQL over
  * `graft.sources.GraftManifestCatalog`, `format("graft-manifest")`,
  * `CALL <cat>.system.*` and the `spark.shuffle.manager` confs), with one
  * closed-loop client thread.
  *
  * Protocol with `run.py`: set up (session, then `--setup-reps` rounds of
  * data preparation), print `PERFBENCH_READY <json>`, wait for one line on
  * stdin (the oracle is computed meanwhile, outside the timed region),
  * run about `--seconds` of timed passes (see `measure`), write every op
  * record and every distinct result to `--out`, print `PERFBENCH_DONE`.
  *
  * A pass is one round over the workload's fixed op list: every query
  * once (OLAP) or one compaction period of write/read cycles
  * (lifecycle). Pass 0 is a warm-up and is checked but not timed.
  * With `--trace 1` the passes alternate
  * untraced and traced; traced passes carry a listener and force the
  * planning phases one by one, so the ratio of the two pass times is the
  * tracing overhead.
  */
object Harness {

  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val workload = args("workload")
    val work = args("work")
    val trace = args.int("trace") == 1
    def session(sharedShuffle: Boolean): SparkSession = {
      val b = SparkSession.builder().master(s"local[${args("cores")}]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", args("cores"))
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      if (sharedShuffle) b
        .config("spark.shuffle.manager",
          "org.apache.spark.shuffle.graft.SharedDirShuffleManager")
        .config("spark.shuffle.sort.io.plugin.class",
          "org.apache.spark.shuffle.graft.SharedDirShuffleDataIO")
        .config("spark.shuffle.graft.root", args("shuffle-root"))
      val spark = graft.GraftSession.tune(b).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    val t0 = System.nanoTime()
    val shared = workload == "olap_shared_shuffle"
    val spark = session(shared)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload =
      if (workload == "lakehouse_lifecycle") new Lifecycle(spark, args)
      else new Olap(spark, args)
    val prepS = (1 to args.int("setup-reps")).map { r =>
      val t = System.nanoTime(); w.prepare(r); (System.nanoTime() - t) / 1e9
    }
    println("PERFBENCH_READY " + Json.obj("session_s" -> sessionS,
      "prepare_s" -> prepS, "inputs" -> w.inputs, "oracle_sql" -> w.oracleSql))
    Console.out.flush()
    scala.io.StdIn.readLine()

    val runner = new Runner(spark, trace)
    val passes = measure(runner, w, args.int("seconds"))
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0)
      .getOrElse(-1.0)
    spark.stop()
    // The traced shared-shuffle run repeats its passes, untraced, on a
    // fresh session with Spark's stock sort shuffle over the same data:
    // the shared/local pass ratio is the counterpart of the paper's
    // shared-shuffle overhead.
    val local = if (trace && shared) {
      val s2 = session(sharedShuffle = false)
      val r = new Runner(s2, trace = false)
      val o = new Olap(s2, args, w.asInstanceOf[Olap].dir)
      (0 to passes).foreach(p => r.pass(p, o.ops(p)))
      s2.stop()
      Some(r)
    } else None
    Files.write(Paths.get(args("out")), Json.obj(
      "ops" -> runner.records.toSeq,
      "passes" -> runner.passes.toSeq,
      "results" -> (runner.results ++ local.toSeq.flatMap(_.results)).toMap,
      "local_ops" -> local.toSeq.flatMap(_.records),
      "local_passes" -> local.toSeq.flatMap(_.passes),
      "tasks" -> runner.listener.tasks.toSeq,
      "jobs" -> runner.listener.jobs.toSeq,
      "peak_rss_mb" -> rss).getBytes(StandardCharsets.UTF_8))
    println("PERFBENCH_DONE")
  }

  /** One untimed warm-up pass, then timed passes: as many as fit in
    * `seconds` at the first timed pass's wall time (rounded), at least
    * two, so a traced run has an untraced and a traced pass, and never
    * more than the inputs allow. Returns the number of timed passes. */
  def measure(runner: Runner, w: Workload, seconds: Int): Int = {
    runner.pass(0, w.ops(0))
    runner.pass(1, w.ops(1))
    val first = runner.passes.last("wall_s").asInstanceOf[Double]
    val n = math.min(w.passes - 1, math.max(2, math.round(seconds / first).toInt))
    (2 to n).foreach(p => runner.pass(p, w.ops(p)))
    n
  }

  /** One timed operation: a name, a kind (query, read, check or a write
    * verb) and the code that builds the DataFrame; running it collects
    * rows. `mv` names the materialized view a read should be answered
    * from (traced passes record whether the optimized plan used it). */
  final case class Op(name: String, kind: String, build: () => DataFrame,
      mv: Option[String] = None, onRows: Array[Row] => Unit = _ => (),
      cycle: Int = 0)

  trait Workload {
    def prepare(round: Int): Unit
    def inputs: Map[String, Any]
    def oracleSql: Map[String, String] = Map.empty
    /** How many passes the inputs allow. */
    def passes: Int = Int.MaxValue
    def ops(pass: Int): Seq[Op]
  }

  /** Read-only OLAP: the declared queries over the derived star schema.
    * The query order of each pass comes from `--order` (seeded). */
  final class Olap(spark: SparkSession, args: Args, var dir: String = "")
      extends Workload {
    private val names = args("queries").split(",").toSeq
    private val orders = args("order").split(";").map(_.split(",").toSeq)
    private var copies = Map.empty[String, Int]

    def prepare(round: Int): Unit = {
      dir = s"${args("work")}/derived$round"
      copies = ScaleUp.derive(spark, args("base"), dir, args.int("scale"))
    }
    def inputs: Map[String, Any] = Map("dir" -> dir, "copies" -> copies)
    override def oracleSql: Map[String, String] =
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    def ops(pass: Int): Seq[Op] = {
      val order = if (pass == 0) names else orders((pass - 1) % orders.length)
      order.map(n => Op(n, "query", () => graft.SparkEntry.queries(n)(spark, dir)))
    }
  }

  /** Write/read cycles on `graft-manifest` tables. Every input batch and
    * predicate comes from the seeded files `run.py` wrote into `--data`. */
  final class Lifecycle(spark: SparkSession, args: Args) extends Workload {
    private val data = args("data")
    private val plan: Seq[Array[String]] = scala.io.Source
      .fromFile(s"$data/plan.txt").getLines().map(_.split(" ")).toSeq
    private val retain = args.int("retain")
    private var cat = ""
    private var root = ""
    private var lastVersion = -1L

    def prepare(round: Int): Unit = {
      cat = s"lake$round"
      root = s"${args("work")}/lake$round"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.sql(s"CREATE TABLE $cat.cust (c_custkey BIGINT, c_seg STRING)")
      spark.sql(s"CREATE TABLE $cat.sales (k BIGINT, cust_k BIGINT, " +
        "qty BIGINT, amt BIGINT, cyc BIGINT) " +
        "TBLPROPERTIES('delete.mode'='merge-on-read')")
      spark.read.parquet(s"$data/cust.parquet").writeTo(s"$cat.cust").append()
      spark.read.parquet(s"$data/initial.parquet").writeTo(s"$cat.sales").append()
      spark.sql(s"CALL $cat.system.create_materialized_view('sales_mv', " +
        "'sales', 'c_seg', 'count:*:n,sum:amt:sa', '', " +
        "'cust ON cust_k = c_custkey')")
      lastVersion = spark.sql(s"SELECT max(version) FROM $cat.`sales$$snapshots`")
        .head().getAs[Number](0).longValue
    }
    def inputs: Map[String, Any] = Map("root" -> root, "catalog" -> cat,
      "initial_version" -> lastVersion)

    /** A pass is one compaction period, `--cycles-per-pass` cycles, so
      * every pass has the same mix of writes, reads and maintenance. */
    private val perPass = args.int("cycles-per-pass")
    override def passes: Int = plan.length / perPass
    def ops(pass: Int): Seq[Op] =
      plan.slice(pass * perPass, (pass + 1) * perPass).flatMap(cycle)

    private def cycle(p: Array[String]): Seq[Op] = {
      val Array(cs, dLo, dHi, dQty, rLo, rHi, compact) = p
      val c = cs.toInt
      val sales = s"$cat.sales"
      def sql(q: String) = () => spark.sql(q)
      val writes = Seq(
        Op("append", "append", () => {
          spark.read.parquet(s"$data/append_$c.parquet").writeTo(sales).append()
          spark.emptyDataFrame
        }),
        Op("upsert", "upsert", () => {
          spark.read.parquet(s"$data/upsert_$c.parquet").write.mode("append")
            .format("graft-manifest").option("path", s"$root/sales")
            .option("upsertKeys", "k").save()
          spark.emptyDataFrame
        }),
        Op("delete", "delete", sql(
          s"DELETE FROM $sales WHERE k >= $dLo AND k < $dHi AND qty <= $dQty")),
        Op("merge", "merge", () => {
          spark.read.parquet(s"$data/merge_$c.parquet")
            .createOrReplaceTempView("merge_src")
          spark.sql(s"""MERGE INTO $sales AS t USING merge_src AS s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET cust_k = s.cust_k, qty = s.qty,
              amt = s.amt, cyc = s.cyc
            WHEN NOT MATCHED THEN INSERT (k, cust_k, qty, amt, cyc)
              VALUES (s.k, s.cust_k, s.qty, s.amt, s.cyc)""")
        }),
        Op("mv_refresh", "mv_refresh",
          sql(s"CALL $cat.system.refresh_materialized_view('sales_mv')")))
      val reads = Seq(
        Op("read_mv", "read", sql(
          s"SELECT c_seg, count(*) AS n, sum(amt) AS sa FROM $sales " +
            s"JOIN $cat.cust ON cust_k = c_custkey GROUP BY c_seg"),
          mv = Some("sales_mv")),
        Op("read_filter", "read", sql(
          s"SELECT count(*) AS n, sum(amt) AS sa FROM $sales " +
            s"WHERE k >= $rLo AND k < $rHi")),
        // the version the previous cycle's snapshots read returned
        Op("read_version", "read", () => spark.sql(
          s"SELECT count(*) AS n, sum(amt) AS sa FROM $sales " +
            s"VERSION AS OF $lastVersion")))
      val maintenance =
        if (compact == "-") Nil
        else Seq(
          Op("compact", "compact", sql(s"CALL $cat.system.compact('sales', 4, " +
            (if (compact == "zorder") "'cust_k,k')" else "'k')"))),
          Op("vacuum", "vacuum", sql(s"CALL $cat.system.vacuum('sales', $retain)")))
      val snapshots = Op("read_snapshots", "read", sql(
        s"SELECT count(*) AS n, max(version) AS v FROM $cat.`sales$$snapshots`"),
        onRows = rows => lastVersion = rows.head.getAs[Number](1).longValue)
      val state = Op("state", "check", sql(
        s"SELECT count(*) AS n, sum(amt) AS sa, sum(qty) AS sq, min(k) AS lo, " +
          s"max(k) AS hi, sum(cyc) AS sc FROM $sales"))
      (writes ++ reads ++ maintenance ++ Seq(snapshots, state))
        .map(_.copy(cycle = c))
    }
  }

  /** Runs passes, times ops, keeps one copy of each distinct result. */
  final class Runner(spark: SparkSession, trace: Boolean) {
    val records = ArrayBuffer[Map[String, Any]]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val results = scala.collection.mutable.LinkedHashMap[String, Map[String, Any]]()
    val listener = new Recorder

    def pass(n: Int, ops: Seq[Op]): Unit = {
      val traced = trace && n > 0 && n % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val start = System.currentTimeMillis()
      ops.foreach(op => records += run(n, op, traced))
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      passes += Map("pass" -> n, "wall_s" -> wall, "traced" -> traced,
        "start_ms" -> start, "end_ms" -> System.currentTimeMillis())
    }

    private def run(pass: Int, op: Op, traced: Boolean): Map[String, Any] =
      graft.GraftSession.withConfScope(spark) {
        graft.api.Graft.withCacheScope {
          val rec = scala.collection.mutable.LinkedHashMap[String, Any](
            "name" -> op.name, "kind" -> op.kind, "pass" -> pass,
            "cycle" -> op.cycle)
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          try {
            val df = op.build()
            val t1 = System.nanoTime()
            val qe = df.queryExecution
            if (traced) {
              rec("build_s") = (t1 - t0) / 1e9
              rec("analyze_s") = qe.tracker.phases.get("analysis")
                .map(_.durationMs / 1e3).getOrElse(0.0)
              val t2 = System.nanoTime(); qe.optimizedPlan
              val t3 = System.nanoTime(); qe.executedPlan
              val t4 = System.nanoTime()
              rec("optimize_s") = (t3 - t2) / 1e9
              rec("physical_s") = (t4 - t3) / 1e9
            }
            val rows = df.collect()
            rec("wall_s") = (System.nanoTime() - t0) / 1e9
            op.onRows(rows)
            rec("result") = keep(op.name, df.columns.toSeq, rows)
            if (traced) {
              rec("scan") = ScanMetrics.of(qe.executedPlan)
              op.mv.foreach(m =>
                rec("rewritten") = qe.optimizedPlan.toString.contains(m))
            }
          } catch { case e: Throwable =>
            rec("wall_s") = (System.nanoTime() - t0) / 1e9
            rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
          }
          rec("start_ms") = startMs
          rec("end_ms") = System.currentTimeMillis()
          rec.toMap
        }
      }

    private def keep(name: String, cols: Seq[String], rows: Array[Row]): String = {
      val body = Json.enc(rows.toSeq.map(r => r.toSeq.map(Json.value)))
      val key = name + ":" + MessageDigest.getInstance("SHA-1")
        .digest(body.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString.take(16)
      if (!results.contains(key))
        results(key) = Map("name" -> name, "columns" -> cols,
          "rows" -> Json.Raw(body))
      key
    }
  }

  /** Job intervals and task metrics, recorded only while a traced pass
    * runs (the listener is attached for exactly those passes). */
  final class Recorder extends SparkListener {
    val jobs = ArrayBuffer[Map[String, Any]]()
    val tasks = ArrayBuffer[Map[String, Any]]()
    private val open = scala.collection.mutable.Map[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      open(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(s => jobs += Map("start_ms" -> s, "end_ms" -> e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val base = Map[String, Any]("stage" -> e.stageId,
        "failed" -> (e.reason != org.apache.spark.Success))
      tasks += (if (m == null) base else base ++ Map(
        "run_s" -> m.executorRunTime / 1e3,
        "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten,
        "shuffle_write_s" -> m.shuffleWriteMetrics.writeTime / 1e9,
        "shuffle_local_bytes" -> m.shuffleReadMetrics.localBytesRead,
        "shuffle_remote_bytes" -> m.shuffleReadMetrics.remoteBytesRead,
        "fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3))
    }
  }

  /** Sums the `graft-manifest` scan metrics over every batch scan of an
    * executed plan, through adaptive stages, reuse and subqueries. */
  object ScanMetrics {
    val names = Seq("filesListed", "filesSkipped", "filesPlanned",
      "deleteRowsApplied", "segmentsPruned")

    def of(plan: SparkPlan): Map[String, Long] = {
      val scans = ArrayBuffer[BatchScanExec]()
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case other =>
          other match { case b: BatchScanExec => scans += b; case _ => }
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
      walk(plan)
      names.map(n => n -> scans.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
    }
  }

  /** The key-offset derivation of `graft.ScaleUp`: K copies of each table,
    * copy i shifting every key column by i * (max key + 1) of its key
    * space, so joins keep their within-copy cardinalities; nation and
    * region stay global and the corpus (documents, embeddings) keeps one
    * copy. Key columns are cast to long first, and an empty table is
    * refused, so int keys and empty inputs fail with a clear message.
    * Strides depend only on the base tables and are computed once. */
  object ScaleUp {
    val offsetCols: Map[String, Seq[String]] = Map(
      "region" -> Nil, "nation" -> Nil, "documents" -> Nil, "embeddings" -> Nil,
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"))
    val spaceOf: Map[String, (String, String)] = Map(
      "c_custkey" -> ("customer", "c_custkey"), "o_custkey" -> ("customer", "c_custkey"),
      "s_suppkey" -> ("supplier", "s_suppkey"), "l_suppkey" -> ("supplier", "s_suppkey"),
      "p_partkey" -> ("part", "p_partkey"), "l_partkey" -> ("part", "p_partkey"),
      "o_orderkey" -> ("orders", "o_orderkey"), "l_orderkey" -> ("orders", "o_orderkey"),
      "event_id" -> ("events", "event_id"), "user_id" -> ("events", "user_id"))

    /** Writes the derived tables; returns each table's copy count. */
    private val strides = scala.collection.mutable.Map[(String, String), Long]()

    def derive(spark: SparkSession, src: String, out: String, k: Int): Map[String, Int] = {
      def stride(space: (String, String)): Long = strides.getOrElseUpdate(space, {
        val m = spark.read.parquet(s"$src/${space._1}.parquet")
          .agg(max(col(space._2).cast("long"))).head()
        require(!m.isNullAt(0),
          s"cannot derive from an empty table: $src/${space._1}.parquet has no rows")
        m.getLong(0) + 1
      })
      offsetCols.keys.toSeq.sorted.map { t =>
        val cols = offsetCols(t)
        if (cols.isEmpty) {
          // a global table is one unchanged copy: the file itself
          Files.createDirectories(Paths.get(out))
          Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$out/$t.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } else {
          val base = spark.read.parquet(s"$src/$t.parquet")
          (0 until k).map { i =>
            cols.foldLeft(base) { (df, c) =>
              df.withColumn(c, col(c).cast("long") + lit(i * stride(spaceOf(c))))
            }
          }.reduce(_ unionAll _)
            .write.mode("overwrite").parquet(s"$out/$t.parquet")
        }
        t -> (if (cols.isEmpty) 1 else k)
      }.toMap
    }
  }
}
