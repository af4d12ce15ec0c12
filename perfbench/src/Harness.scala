package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sql.ClickHouseSql

/** Runs one workload in a closed loop from one client thread (the next
  * statement is sent only after the previous one returns) and writes
  * `record.json` (and `spans.jsonl` when traced) into the output directory.
  * `perfbench/run.py` builds this, runs it, checks the outputs and prints
  * the metrics.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1
  *           --data DIR --out DIR --cores N
  *
  * Phases:
  *   - set-up: start the session; `SetupRounds` rounds of (clean the
  *     workload's tables and lake directories, register the corpus in a
  *     fresh session); `WarmupPasses` passes, the first one's outputs kept
  *     for the oracle check;
  *   - timed: whole passes, as many as `--seconds` holds at the workload's
  *     nominal pass time, so every run of a workload makes the same number
  *     of statements; with `--trace 1` untraced and traced passes alternate,
  *     and their difference is the tracing overhead;
  *   - after: heap after a full GC, the calibration probe, the on-disk size
  *     of the ingest tables, the known-defect probes, and the records.
  */
object Harness {
  val SetupRounds = 3
  /** Warm-up passes before the timed ones. After the cold first pass the
    * JIT keeps compiling for about three more, competing with the
    * statements for the four cores: timed passes started earlier run up
    * to a third slower, by how far the compiling got. */
  val WarmupPasses = 4
  /** Warm pass time of each workload on a 4-core box; sets the pass count. */
  val NominalPassSeconds = Map("olap_headline" -> 2.5, "ingest_mutate" -> 3.3)
  /** `graft.Bench.calibrationProbe(ProbeThreads)` on an idle 4-core box,
    * seconds. */
  val ProbeSoloSeconds = 0.30
  val ProbeThreads = 4

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String, out: String, cores: Int)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toInt,
      get("--trace") == "1", get("--data"), get("--out"),
      m.getOrElse("--cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val procStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val root = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .getOrCreate()
    val contextS = (System.currentTimeMillis() - procStart) / 1e3
    root.sparkContext.setLogLevel("ERROR")
    val run = new Run(root, a)
    try run.all(contextS)
    finally root.stop()
  }
}

/** Result of one statement execution. `result` holds ingest read rows; a
  * query output whose fingerprint differs from the checked one is written
  * out under `check` for its own oracle comparison. */
final case class Exec(stmt: Int, label: String, pass: Int, traced: Boolean,
    ms: Double, error: Option[String], rows: Long, fpMatch: Boolean,
    var check: Option[String], result: Option[Seq[Row]])

final class Run(root: SparkSession, a: Harness.Args) {
  private val sc = root.sparkContext
  private val wl = Workloads.byName(a.workload, a.out)
  private val dir = s"${a.data}/${wl.sf}"
  private val queries = graft.SparkEntry.queries
  private val tracer = new Tracer(sc)
  private val recorder = new Recorder
  private var spark = root
  private var stmtSeq = 0
  /** Harness time inside the timed region (cleanup, fingerprints, file
    * counts); subtracted from the timed wall time. */
  private var harnessNs = 0L

  // per-statement side data of traced executions
  private val stmtPass = mutable.HashMap.empty[Int, Int]
  private val catalyst = mutable.HashMap.empty[Int, Map[String, Double]]
  private val persistedMb = mutable.HashMap.empty[Int, Double]
  private val filesWritten = mutable.HashMap.empty[Int, Long]
  private val resultRows = mutable.HashMap.empty[Int, Long]

  // reference outputs of the query mixes (warm-up pass)
  private val refFp = mutable.HashMap.empty[String, Long]
  private val mismatched =
    mutable.ArrayBuffer.empty[(Exec, Seq[Row], StructType)]
  private val execs = mutable.ArrayBuffer.empty[Exec]

  def all(contextS: Double): Unit = {
    graft.Bench.calibrationProbe(Harness.ProbeThreads) // JIT warm-up
    val probePre = graft.Bench.calibrationProbe(Harness.ProbeThreads)
    val seq = wl.pass(a.seed)

    // ---- set-up: registration rounds, then the warm-up passes
    val registerS = (1 to Harness.SetupRounds).map { r =>
      val t0 = System.nanoTime()
      harnessNs = 0L
      clean()
      spark = root.newSession()
      trace(a.trace)
      tracer.span(nextStmt(-r), "tables.register")(
        graft.Tables.register(spark, dir))
      trace(false)
      (System.nanoTime() - t0 - harnessNs) / 1e9
    }
    harnessNs = 0L
    val w0 = System.nanoTime()
    for (w <- 1 to Harness.WarmupPasses) {
      wl match {
        case _: IngestMutate => timedHarness(deleteTree(new File(lakeDir)))
        case _ =>
      }
      seq.foreach(s => execute(s, 0, traced = false, keepRef = w == 1))
    }
    val warmupS = (System.nanoTime() - w0 - harnessNs) / 1e9
    log("set-up done")

    // ---- timed passes
    val nominal = Harness.NominalPassSeconds(wl.name)
    val base = math.max(2, math.round(a.seconds / nominal).toInt)
    val passes = if (a.trace) math.max(4, base + base % 2) else base
    val passWallS = (1 to passes).map { p =>
      val traced = a.trace && p % 2 == 0
      harnessNs = 0L
      val t0 = System.nanoTime()
      timedHarness(System.gc())
      trace(traced)
      wl match {
        case _: IngestMutate => timedHarness(deleteTree(new File(lakeDir)))
        case _ =>
      }
      seq.foreach(s => execs += execute(s, p, traced, keepRef = false))
      trace(false)
      (System.nanoTime() - t0 - harnessNs) / 1e9
    }

    log("timed passes done")
    // ---- after the timed region
    val heapMb = retainedHeapMb()
    val probePost = graft.Bench.calibrationProbe(Harness.ProbeThreads)
    val spaceAmp = wl match {
      case w: IngestMutate => Some(spaceAmplification(w))
      case _ => None
    }
    val knownDefects = wl match {
      case _: IngestMutate =>
        Seq(KnownDefects.positionalInsertPartitionNotLast(spark))
      case _ => Nil
    }
    val checks = writeMismatches()
    val layers = if (a.trace) {
      Some(new Layers(tracer.spans.toSeq, recorder.jobs, stmtPass.toMap,
        catalyst.toMap, persistedMb.toMap, filesWritten.toMap,
        resultRows.toMap))
    } else None

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "sf_dir" -> dir, "seconds" -> a.seconds,
      "setup" -> Map("context_s" -> contextS, "register_s" -> registerS,
        "warmup_s" -> warmupS),
      "calibration" -> Map("solo_s" -> Harness.ProbeSoloSeconds,
        "pre_s" -> probePre, "post_s" -> probePost,
        "ratio_pre" -> probePre / Harness.ProbeSoloSeconds,
        "ratio_post" -> probePost / Harness.ProbeSoloSeconds),
      "timed" -> Map("passes" -> passes, "statements_per_pass" -> seq.size,
        "pass_wall_s" -> passWallS),
      "heap_retained_mb" -> heapMb,
      "space_amp" -> spaceAmp,
      "known_defects" -> knownDefects,
      "executions" -> execs.map(e => Map("stmt" -> e.stmt, "label" -> e.label,
        "pass" -> e.pass, "traced" -> e.traced, "ms" -> e.ms,
        "error" -> e.error, "rows" -> e.rows, "fp_match" -> e.fpMatch,
        "check" -> e.check, "result" -> e.result)),
      "checks" -> checks,
      "per_layer" -> layers.map(_.metrics),
      "repeat_counters" -> layers.map(_.repeatCounters))
    wl match {
      case w: IngestMutate => record("ingest") = Map(
        "ops" -> w.ops(a.seed).map(o => Map("op" -> o.op, "lo" -> o.lo,
          "hi" -> o.hi, "where" -> o.where, "table" -> o.table,
          "step" -> o.step)),
        "columns" -> w.columns)
      case _ =>
    }
    log("checks written")
    write(new File(a.out, "record.json"), Json(record) + "\n")
    if (a.trace)
      write(new File(a.out, "spans.jsonl"), spansJsonl(recorder.jobs))
  }

  private def lakeDir: String = s"${a.out}/lake"

  private def log(what: String): Unit = System.err.println(
    f"perfbench: $what at ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  /** Tracing on: spans are kept and the listener is attached. Turning it
    * off waits for the listener to catch up, then detaches it, so untraced
    * passes pay for neither. */
  private def trace(on: Boolean): Unit = if (on != tracer.enabled) {
    if (on) sc.addSparkListener(recorder)
    else timedHarness { recorder.drain(sc); sc.removeSparkListener(recorder) }
    tracer.enabled = on
  }

  /** Heap in use after full collections: the least of three, since objects
    * Spark's cleaner releases after one collection need another. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def nextStmt(pass: Int): Int = {
    stmtSeq += 1
    stmtPass(stmtSeq) = pass
    stmtSeq
  }

  private def timedHarness[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally harnessNs += System.nanoTime() - t0
  }

  /** Drops what earlier rounds and runs left: the ingest table and the lake
    * directory. The query mixes keep no state between statements beyond
    * the persisted RDDs released after each one. */
  private def clean(): Unit = wl match {
    case w: IngestMutate =>
      root.sql(s"DROP TABLE IF EXISTS ${w.table}")
      deleteTree(new File(s"${a.out}/warehouse/${w.table}"))
      deleteTree(new File(lakeDir))
    case _ =>
  }

  private def execute(s: Stmt, pass: Int, traced: Boolean,
      keepRef: Boolean): Exec = {
    val id = nextStmt(pass)
    val filesBefore =
      if (traced && s.kind == "insert") timedHarness(dataFiles()) else 0L
    // `ClickHouseSql.sql` rewrites only parts of a statement, inside its own
    // call; the whole-text rewrite is timed as a separate call, outside the
    // statement's span and latency and outside the pass wall time.
    if (traced && s.kind != "query")
      timedHarness(tracer.span(id, "sql.rewrite")(ClickHouseSql.rewrite(s.text)))
    val t0 = System.nanoTime()
    val out: Either[Throwable, (DataFrame, Array[Row])] =
      try Right(tracer.span(id, "statement")(call(id, s, traced)))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    timedHarness {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      out match {
        case Left(e) =>
          System.err.println(s"perfbench: ${s.label} failed: $e")
          Exec(id, s.label, pass, traced, ms, Some(e.toString), 0, false,
            None, None)
        case Right((df, rows)) =>
          if (traced) {
            catalyst(id) = df.queryExecution.tracker.phases
              .map { case (k, v) => k -> v.durationMs.toDouble }
            resultRows(id) = rows.length
            if (s.kind == "insert") filesWritten(id) = dataFiles() - filesBefore
          }
          s.kind match {
            case "query" =>
              val fp = Fingerprint(rows)
              if (keepRef) {
                refFp(s.label) = fp
                writeRows(rows.toSeq, df.schema, s"check/${s.label}")
              }
              val e = Exec(id, s.label, pass, traced, ms, None, rows.length,
                refFp.get(s.label).contains(fp), None, None)
              if (pass > 0 && !e.fpMatch)
                mismatched += ((e, rows.toSeq, df.schema))
              e
            case "read" =>
              Exec(id, s.label, pass, traced, ms, None, rows.length, true,
                None, Some(rows.toSeq))
            case _ =>
              Exec(id, s.label, pass, traced, ms, None, rows.length, true,
                None, None)
          }
      }
    }
  }

  /** The layer calls of one statement, each under its own span. */
  private def call(id: Int, s: Stmt, traced: Boolean): (DataFrame, Array[Row]) = {
    val df = s.kind match {
      case "query" =>
        tracer.span(id, "queries.build")(queries(s.text)(spark, dir))
      case kind =>
        val layer = kind match {
          case "insert" => "sources.insert"
          case "mutation" => "mutation"
          case "ddl" => "ddl"
          case _ => "queries.build"
        }
        tracer.span(id, layer)(ClickHouseSql.sql(spark, s.text))
    }
    if (traced) persistedMb(id) = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / (1024.0 * 1024.0)
    (df, tracer.span(id, "collect")(df.collect()))
  }

  private def dataFiles(): Long = {
    def count(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(count).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    count(new File(s"${a.out}/warehouse")) + count(new File(lakeDir))
  }

  private def writeRows(rows: Seq[Row], schema: StructType, rel: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"${a.out}/$rel")

  /** Writes each timed output whose fingerprint differs from the checked
    * reference, and lists every output the checker compares to its oracle. */
  private def writeMismatches(): Seq[Map[String, Any]] = {
    mismatched.zipWithIndex.foreach { case ((e, rows, schema), i) =>
      val rel = s"check/${e.label}__$i"
      writeRows(rows, schema, rel)
      e.check = Some(rel)
    }
    mismatched.clear()
    val oracles = graft.SparkEntry.oracleSql
    refFp.keys.toSeq.sorted.map(l => Map("label" -> l,
      "path" -> s"check/$l", "oracle" -> oracles.get(l))) ++
      execs.flatMap(e => e.check.map(p => Map("label" -> e.label,
        "path" -> p, "oracle" -> oracles.get(e.label))))
  }

  /** On-disk bytes of both ingest tables over the bytes of their live rows
    * written once as plain parquet. */
  private def spaceAmplification(w: IngestMutate): Double = {
    val mt = new File(s"${a.out}/warehouse/${w.table}")
    val lake = new File(lakeDir)
    val plain = s"${a.out}/plain"
    spark.table(w.table).write.mode("overwrite").parquet(s"$plain/mt")
    ClickHouseSql.sql(spark, s"SELECT * FROM deltaLake('$lakeDir/ingest_delta')")
      .write.mode("overwrite").parquet(s"$plain/lake")
    (treeBytes(mt) + treeBytes(lake)).toDouble / treeBytes(new File(plain))
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def spansJsonl(jobs: Seq[JobRec]): String = {
    val bySpan = jobs.groupBy(_.span)
    tracer.spans.map { s =>
      Json(Map("id" -> s.id, "stmt" -> s.stmt, "pass" -> stmtPass(s.stmt),
        "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
        "end" -> s.end, "jobs" -> bySpan.getOrElse(s.id, Nil).map(j =>
          Map("id" -> j.id, "start" -> j.start, "end" -> j.end,
            "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6)))) + "\n"
    }.mkString
  }

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(UTF_8))
}

/** Order-independent hash of a result: the sum of per-row hashes, with
  * floating-point values rounded to 9 decimals as the oracle check does. */
object Fingerprint {
  private def mix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  def value(v: Any): Long = v match {
    case null => 0x7f4a7c15L
    case d: Double =>
      if (d.isNaN) 0x1dL
      else java.lang.Double.doubleToLongBits(Math.rint(d * 1e9) / 1e9 + 0.0)
    case f: Float => value(f.toDouble)
    case r: Row => r.toSeq.foldLeft(17L)((h, x) => mix(h * 31 + value(x)))
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case s: scala.collection.Seq[_] =>
      s.foldLeft(19L)((h, x) => mix(h * 31 + value(x)))
    case b: Array[Byte] => java.util.Arrays.hashCode(b).toLong
    case other => other.hashCode.toLong
  }

  def apply(rows: Array[Row]): Long =
    rows.foldLeft(rows.length.toLong)((acc, r) => acc + mix(value(r)))
}

/** Minimal JSON writer for the records. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: java.math.BigDecimal => quote(d.toPlainString)
    case d: BigDecimal => quote(d.bigDecimal.toPlainString)
    case r: Row => apply(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case arr: Array[_] => apply(arr.toSeq)
    case other => quote(other.toString)
  }
}
