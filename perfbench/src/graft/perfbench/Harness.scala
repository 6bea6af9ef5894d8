package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One operation of the generated list: `pass` < 0 marks a warm-up op.
  * `args` are the generator's `key=value` fields. */
final case class Op(i: Int, pass: Int, kind: String, args: Map[String, String])

/** What one op returned: an output digest to check, or the failure. */
final case class Outcome(result: String, spans: Map[String, Double] = Map.empty,
    extra: Map[String, Double] = Map.empty)

/** A workload: fixtures built once per set-up repetition (each on its own
  * copy of the inputs), then ops against the last repetition. */
trait Workload {
  def fixtures: Seq[(String, Int => Unit)]
  /** Sessions whose queries the trace observes. */
  def sessions: Seq[SparkSession]
  def run(op: Op, rep: Int): Outcome
  /** Untimed state the result checks need, after the timed phase. */
  def finish(rep: Int, trace: Boolean): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side. Reads the op list the Python side
  * generated from the seed, builds the set-up once per input copy, runs the ops
  * closed-loop (one client) until the deadline, and writes every timing
  * and counter to one JSON file. It calls only graft's entry points (query
  * key functions, the package-private fixture warm-ups, TxnTable, GraftSql)
  * and observes
  * the engine only through Spark's public listener interfaces.
  *
  *   Harness workload=<name> ops=<file> stage=<dir> data=<dir1,dir2,...>
  *           work=<dir> out=<file> seconds=<s> trace=<0|1>
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val dirs = a("data").split(",").toSeq
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val ops = Files.readAllLines(Paths.get(a("ops"))).asScala.toSeq
      .filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
        val f = l.split("\t", -1)
        val args = f.drop(2).map { kv => val j = kv.indexOf('='); kv.take(j) -> kv.drop(j + 1) }.toMap
        Op(i, f(0).toInt, f(1), args)
      }

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "upsert" => new Upsert(spark, dirs, work, a("stage"))
      case other => new Keys(spark, dirs, other)
    }

    // set-up, repeated once per input copy: each repetition builds every
    // fixture from scratch on its own directory, so no memo is shared
    val fixtureS = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    for (rep <- dirs.indices; (name, build) <- w.fixtures) {
      val t = System.nanoTime()
      build(rep)
      fixtureS.getOrElseUpdate(name, mutable.Buffer.empty) += (System.nanoTime() - t) / 1e9
    }
    val lastRep = dirs.size - 1
    val tWarm = System.nanoTime()
    val warmFailures = mutable.Buffer.empty[Map[String, Any]]
    ops.filter(_.pass < 0).foreach { op =>
      try w.run(op, 0)
      catch { case e: Throwable => warmFailures += failure(op, e) }
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9

    // timed phase: closed loop, one client. A traced run traces the ops of
    // every odd pass (listeners attached around each op, counters read
    // after the bus drains); the same ops untraced in the even passes give
    // the overhead of tracing inside one process.
    val counters = new Counters
    val sc = spark.sparkContext
    def snapshot(): Map[String, Double] = {
      org.apache.spark.graftbench.Bus.drain(sc)
      counters.snapshot() ++ Trace.jvm()
    }
    val results = mutable.Buffer.empty[Map[String, Any]]
    val passes = mutable.Buffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val byPass = ops.filter(_.pass >= 0).groupBy(_.pass).toSeq.sortBy(_._1)
    val it = byPass.iterator
    while (it.hasNext && System.nanoTime() < deadline) {
      val (p, pops) = it.next()
      val cpu0 = Trace.processCpuNs()
      val t0 = System.nanoTime()
      var done = 0
      val oi = pops.iterator
      while (oi.hasNext && System.nanoTime() < deadline) {
        val op = oi.next()
        val tracing = traced && p % 2 == 1
        val tw = System.nanoTime()
        val detach = if (tracing) {
          org.apache.spark.graftbench.Bus.drain(sc)
          Trace.attach(w.sessions, counters)
        } else () => ()
        val b0 = if (tracing) snapshot() else Map.empty[String, Double]
        sc.setJobGroup(s"op-${op.i}", op.kind, interruptOnCancel = false)
        val ts = System.nanoTime()
        val r: Map[String, Any] =
          try {
            val o = w.run(op, lastRep)
            Map("ms" -> (System.nanoTime() - ts) / 1e6, "ok" -> true, "result" -> o.result,
              "spans" -> o.spans, "extra" -> o.extra)
          } catch { case e: Throwable =>
            failure(op, e) + ("ms" -> (System.nanoTime() - ts) / 1e6)
          }
        sc.clearJobGroup()
        val ctr = if (tracing) Trace.delta(b0, snapshot()) else Map.empty[String, Double]
        detach()
        results += r ++ Map("i" -> op.i, "pass" -> p, "kind" -> op.kind,
          "name" -> opName(op), "traced" -> tracing, "counters" -> ctr,
          "wall_ms" -> (System.nanoTime() - tw) / 1e6)
        done += 1
      }
      passes += Map("pass" -> p, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "cpu_s" -> (Trace.processCpuNs() - cpu0) / 1e9, "ops" -> done,
        "complete" -> (done == pops.size))
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    val rssPeak = Trace.rssPeakBytes()
    val jvmEnd = Trace.jvm()
    val finalCounters = counters.snapshot()
    val batchMs = Trace.batchTimes(counters)

    val fin = try w.finish(lastRep, traced) catch { case e: Throwable =>
      Map("finish_error" -> s"${e.getClass.getName}: ${firstLine(e)}")
    }
    val res = Map(
      "workload" -> workload, "cpus" -> cpus,
      "session_s" -> sessionS, "fixture_s" -> fixtureS.map { case (k, v) => k -> v.toSeq },
      "warm_s" -> warmS, "warm_failures" -> warmFailures.toSeq,
      "measured_s" -> measuredS, "ops" -> results.toSeq, "passes" -> passes.toSeq,
      "rss_peak_bytes" -> rssPeak, "jvm_end" -> jvmEnd,
      "final_counters" -> finalCounters, "batch_ms" -> batchMs,
      "finish" -> fin)
    val out = Paths.get(a("out"))
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(out, json.writeValueAsBytes(res))
    spark.stop()
  }

  def opName(op: Op): String = op.args.getOrElse("key", op.kind)

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse("").linesIterator.find(_.trim.nonEmpty).getOrElse("")

  def failure(op: Op, e: Throwable): Map[String, Any] =
    Map("i" -> op.i, "kind" -> op.kind, "name" -> opName(op), "ok" -> false,
      "error_class" -> e.getClass.getName, "error" -> firstLine(e))

  /** Order-insensitive digest of a result: row count plus the sum of a
    * 64-bit hash over every column, so every output column is computed.
    * Floating values are rounded to 6 decimals first, so the digest does
    * not depend on summation order. */
  def digest(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("s"))
  }

  def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}

/** `batch`: each op calls one query key function and reduces its result to
  * a digest. */
final class Keys(spark: SparkSession, dirs: Seq[String], workload: String)
    extends Workload {
  import graft.queries._
  val fixtures: Seq[(String, Int => Unit)] = workload match {
    case "batch" => Seq(
      "pipeline" -> (r => PPipeline.warmFixtures(spark, dirs(r))),
      "llm_ann" -> (r => ILlmOps.warmAnnFixtures(spark, dirs(r))),
      "curate_pq" -> (r => OCurate.warmAnnFixtures(spark, dirs(r))))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  def sessions: Seq[SparkSession] = Seq(spark)

  def run(op: Op, rep: Int): Outcome = {
    val fn = graft.SparkEntry.queries(op.args("key"))
    val t0 = System.nanoTime()
    val df = fn(spark, dirs(rep))
    val t1 = System.nanoTime()
    val d = Harness.digest(df)
    val row = try {
      d.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val r = d.collect()(0)
      val t3 = System.nanoTime()
      (s"${r.getLong(0)}|${r.getDecimal(1)}", Seq(t1 - t0, t2 - t1, t3 - t2))
    } catch {
      // a column type the hash cannot take: fall back to the row count
      case e: org.apache.spark.sql.AnalysisException =>
        val t2 = System.nanoTime()
        val n = df.count()
        (s"$n|-", Seq(t1 - t0, 0L, System.nanoTime() - t2))
    }
    Outcome(row._1, Map("queries.build_ms" -> row._2(0) / 1e6,
      "queries.plan_ms" -> row._2(1) / 1e6, "queries.exec_ms" -> row._2(2) / 1e6))
  }
}

/** `upsert`: a seeded stream of DML and reads against one TxnTable built
  * from `lineitem` during set-up. Two of the eight DML ops of a pass enter
  * through the SQL front door. */
final class Upsert(spark: SparkSession, dirs: Seq[String], work: String,
    stage: String) extends Workload {
  import graft.sources.{GraftSql, MergeClause, TxnTable}
  private val keys = Seq("l_orderkey", "l_linenumber")
  private def root(rep: Int) = s"$work/table$rep"
  private val tables = mutable.Map.empty[Int, TxnTable]
  private lazy val sqlSession = GraftSql.session(spark, s"$work/catalog")
  def sessions: Seq[SparkSession] = Seq(spark, sqlSession)

  val fixtures: Seq[(String, Int => Unit)] = Seq("txn_table" -> { rep =>
    val li = spark.read.parquet(s"${dirs(rep)}/lineitem.parquet")
    val t = TxnTable.fresh(spark, root(rep))
    t.create(li.schema)
    t.append(li)
    t.compact(target = 8, clusterBy = Seq("l_orderkey"))
    sqlSession
    tables(rep) = t
  })

  private def summary(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum("l_orderkey"), lit(0L)),
      coalesce(sum("l_linenumber"), lit(0L)),
      coalesce(sum("l_quantity"), lit(0.0)),
      coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L)))
      .collect()(0)
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}|${r.getDouble(3).toLong}|${r.getLong(4)}"
  }

  private def liveFiles(t: TxnTable, version: Long): Set[String] =
    t.filesDF(version).select("path").collect().map(_.getString(0)).toSet

  def run(op: Op, rep: Int): Outcome = {
    val t = tables(rep)
    val a = op.args.map { case ("src", v) => "src" -> s"$stage/$v"; case kv => kv }
    val sql = a.get("sql").contains("1")
    val before = t.currentVersion
    val result: String = op.kind match {
      case "merge" if sql =>
        sqlSession.sql(s"MERGE INTO '${t.root}' t USING '${a("src")}' s " +
          "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        ""
      case "merge" =>
        t.merge(spark.read.parquet(a("src")), keys, clusterBy = Seq("l_orderkey")); ""
      case "merge_when" =>
        t.mergeWhen(spark.read.parquet(a("src")), keys, Seq(
          MergeClause.Update(Some("s.l_quantity > t.l_quantity"), Some(Seq(
            "l_quantity" -> "s.l_quantity", "l_extendedprice" -> "s.l_extendedprice"))),
          MergeClause.Delete(Some("s.l_returnflag = 'R'")),
          MergeClause.Insert(None, None)))
        ""
      case "update" if sql =>
        sqlSession.sql(s"UPDATE '${t.root}' SET l_quantity = l_quantity + 1 WHERE ${a("cond")}"); ""
      case "update" =>
        t.update(Map("l_quantity" -> (col("l_quantity") + 1)), expr(a("cond")),
          dv = a.get("dv").contains("1")); ""
      case "delete" if sql =>
        sqlSession.sql(s"DELETE FROM '${t.root}' WHERE ${a("cond")}"); ""
      case "delete" =>
        t.deleteWhere(expr(a("cond")), dv = a.get("dv").contains("1")); ""
      case "stream_append" =>
        // the landing-zone ingest: a streaming query drains the staged
        // batch, drops duplicate keys in streaming state and commits
        // through the table's exactly-once sink
        val src = a("src")
        val schema = spark.read.parquet(src).schema
        val q = spark.readStream.schema(schema).parquet(src)
          .dropDuplicates(keys)
          .writeStream.format("graft.sources.TxnSink")
          .option("path", t.root)
          .option("checkpointLocation", s"$work/ckpt/${op.i}-$rep")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
        ""
      case "read_eq" => summary(t.readWhereEq("l_orderkey", a("k").toLong))
      case "read_range" =>
        summary(t.readRange("l_orderkey", a("lo").toDouble, a("hi").toDouble))
      case "compact" =>
        t.compact(target = a("target").toInt, clusterBy = Seq("l_orderkey")); ""
      case other => throw new IllegalArgumentException(s"unknown op $other")
    }
    Outcome(result, extra = Map("version_before" -> before.toDouble,
      "version" -> t.currentVersion.toDouble))
  }

  /** The final snapshot for the replay check, the table's size on disk,
    * and with `trace` the file changes of every commit, read back from
    * the log after the timed phase. */
  override def finish(rep: Int, trace: Boolean): Map[String, Any] = {
    val t = tables(rep)
    val snap = s"$work/final_snapshot"
    t.read().write.mode("overwrite").parquet(snap)
    val rootP = Paths.get(t.root)
    val commits = if (!trace) Nil else {
      val live = (0L to t.currentVersion).map(v => v -> liveFiles(t, v)).toMap
      (1L to t.currentVersion).map { v =>
        val added = live(v) -- live(v - 1)
        Map("version" -> v, "files_added" -> added.size,
          "files_removed" -> (live(v - 1) -- live(v)).size,
          "bytes_added" -> added.toSeq.map(f => Files.size(rootP.resolve(f))).sum,
          "files_live" -> live(v).size)
      }
    }
    val live = liveFiles(t, t.currentVersion)
    Map("snapshot" -> snap, "versions" -> (t.currentVersion + 1),
      "live_rows" -> t.read().count(),
      "table_bytes" -> Harness.treeBytes(rootP),
      "log_bytes" -> Harness.treeBytes(rootP.resolve("_txn_log")),
      "live_files" -> live.size,
      "live_bytes" -> live.toSeq.map(f => Files.size(rootP.resolve(f))).sum,
      "commits" -> commits)
  }
}
