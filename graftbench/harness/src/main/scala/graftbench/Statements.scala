package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.lang.{Ast, Interpreter, Parser}
import graft.store.CommitLog

/** The `statements` workload: a seeded grapho script sent statement by
  * statement through one `Interpreter.executeLogged` with a text
  * `CommitLog`, compacting on a statement threshold, then a restart
  * through `bootFrom` in a fresh interpreter.
  *
  * Script files (written by `run.py`, one `kind<TAB>statement` per line):
  * `setup.txt` (DDL and preload), `warm.txt` (a throwaway warm-up
  * script) and `body.txt` (the timed statements). Every MATCH result and
  * the state before and after the restart are written out in canonical
  * form for the model check.
  */
object Statements {
  /** Statements per block: every block of `body.txt` holds the same
    * kind mix (`stmtgen.BLOCK`).
    */
  val Block = 20

  /** Timed blocks per run, at least. A run holds one compaction, so a
    * run of fewer blocks gives it a larger share of the window.
    */
  val MinBlocks = 4

  /** Commit-log entries that trigger a compaction: the set-up's 64
    * entries plus 11 writes, so the first compaction falls in the first
    * timed block.
    */
  val CompactEvery = 75

  private def lines(path: String): Seq[(String, String)] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        (l.substring(0, i), l.substring(i + 1))
      }

  /** Canonical text of one value, as the model writes it. */
  def canon(v: Any): String = v match {
    case null => "null"
    case s: String => "'" + s + "'"
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case other => other.toString
  }

  def canonRows(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => r.toSeq.map(canon).mkString("|")).sorted

  /** Every label's rows, one `N:label<TAB>row` or `E:label<TAB>row` line each. */
  def dump(it: Interpreter): Seq[String] = {
    val ns = it.catalog.nodes.keys.toSeq.sorted.flatMap(l =>
      canonRows(it.nodes(l).collect()).map(r => s"N:$l\t$r"))
    val es = it.catalog.edges.keys.toSeq.sorted.flatMap(l =>
      canonRows(it.edges(l).collect()).map(r => s"E:$l\t$r"))
    ns ++ es
  }

  private def mutating(kind: String): Boolean = kind != "match"

  def run(o: Opts): scala.collection.Map[String, Any] = {
    val setup = lines(s"${o.data}/setup.txt")
    val warm = lines(s"${o.data}/warm.txt")
    val body = lines(s"${o.data}/body.txt")

    // Set-up, timed from JVM start: session start, then the measured
    // store's DDL and preload.
    val start = Harness.jvmStartNs
    val spark = Harness.session(o)
    val dataDir = s"${o.work}/store"
    val it = new Interpreter(spark)
    var log = CommitLog.open(dataDir)
    setup.foreach { case (_, s) => it.executeLogged(s, log) }
    val setupS = (System.nanoTime() - start) / 1e9

    // Untimed warm-up on a throwaway store, ending in one compaction, so
    // the JIT has compiled the statement paths before the timed window.
    val warmDir = s"${o.work}/warm-store"
    val w = new Interpreter(spark)
    val wlog = CommitLog.open(warmDir)
    warm.foreach { case (k, s) =>
      val out = w.executeLogged(s, wlog)
      if (k == "match") out.foreach(_.collect())
    }
    w.compactIfNeeded(warmDir, wlog, 1)
    val heap0 = Harness.retainedHeapMb()

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    val counters = mutable.ArrayBuffer.empty[OpCounters]
    val matches = new StringBuilder
    val parseMs = mutable.ArrayBuffer.empty[Double]
    val execMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.LinkedHashMap.empty[String, String]
    var timedMs = 0.0
    var gcTotal = 0L
    var cgCount = 0L
    var cgNs = 0L
    var i = 0
    // whole blocks only, so every run executes the script's exact kind
    // mix, and at least MinBlocks of them
    while (i < body.size &&
        (i < MinBlocks * Block || timedMs < o.seconds * 1000 || i % Block != 0)) {
      val (kind, stmt) = body(i)
      tracer.foreach(_.begin(i))
      val gc0 = Harness.gcMs
      val cg0 = Harness.codegenCount
      val cgn0 = Harness.codegenNs
      val t0 = System.nanoTime()
      var rows: Array[Row] = null
      var compacted = false
      var ok = true
      try {
        if (o.trace) {
          // the same steps as executeLogged, timed one by one
          val tp = System.nanoTime()
          val parsed = Parser.parse(stmt)
          val te = System.nanoTime()
          parseMs += Harness.ms(tp, te)
          parsed.foreach { s =>
            val out = it.execute(s)
            if (kind == "match") rows = out.get.collect()
            val ta = System.nanoTime()
            execMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += Harness.ms(te, ta)
            if (mutating(kind)) {
              log.append(Ast.render(s))
              appendMs += Harness.ms(ta, System.nanoTime())
            }
          }
        } else {
          val out = it.executeLogged(stmt, log)
          if (kind == "match") rows = out.get.collect()
        }
        if (mutating(kind)) {
          val tc = System.nanoTime()
          val next = it.compactIfNeeded(dataDir, log, CompactEvery)
          if (next ne log) {
            compacted = true
            compactMs += Harness.ms(tc, System.nanoTime())
          }
          log = next
        }
      } catch {
        case e: Throwable =>
          ok = false
          errors(s"$i") = s"$stmt: ${String.valueOf(e.getMessage).take(200)}"
      }
      val t1 = System.nanoTime()
      gcTotal += Harness.gcMs - gc0
      cgCount += Harness.codegenCount - cg0
      cgNs += Harness.codegenNs - cgn0
      tracer.foreach(t => counters += t.end())
      timedMs += Harness.ms(t0, t1)
      ops += mutable.LinkedHashMap("i" -> i, "kind" -> kind, "ok" -> ok,
        "ms" -> Harness.ms(t0, t1), "compacted" -> compacted,
        "persisted" -> spark.sparkContext.getPersistentRDDs.size)
      if (rows != null)
        matches ++= Json.write(Map("i" -> i, "rows" -> canonRows(rows))) += '\n'
      i += 1
    }
    val executed = i
    val walBytes = if (Files.exists(log.path)) Files.size(log.path) else 0L
    val walEntries = log.entryCount
    val before = dump(it)
    val heap1 = Harness.retainedHeapMb()

    // restart: a fresh interpreter boots from the same store
    val tb = System.nanoTime()
    val booted = new Interpreter(spark)
    booted.bootFrom(dataDir)
    val after = dump(booted)
    val bootS = (System.nanoTime() - tb) / 1e9
    val heap2 = Harness.retainedHeapMb()

    val layers = tracer.map { t =>
      t.uninstall()
      val m = Harness.layerMetrics(o, counters.toSeq,
        ops.map(_("ms").asInstanceOf[Double]).toSeq, gcTotal, cgCount, cgNs)
      val snapDir = Paths.get(dataDir)
      val snapBytes = Files.walk(snapDir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("commit"))
        .map(Files.size).sum
      m ++= Seq(
        "lang.parse_ms" -> Harness.median(parseMs.toSeq)) ++
        Seq("ddl", "insert_node", "insert_edge", "update", "delete", "match").map(k =>
          s"lang.exec_ms.$k" -> Harness.median(execMs.getOrElse(k, Nil).toSeq)) ++ Seq(
        "store.wal_append_ms" -> Harness.median(appendMs.toSeq),
        "store.compactions" -> compactMs.size.toLong,
        "store.compact_s" -> compactMs.sum / 1000,
        "store.wal_bytes_per_stmt" ->
          (if (walEntries > 0) walBytes.toDouble / walEntries else 0.0),
        "store.snapshot_mb" -> snapBytes / 1048576.0,
        "store.boot_replayed" -> walEntries.toLong,
        "trace.overhead_s" -> t.overheadS)
      Harness.writeFile(s"${o.out}/spans.jsonl", Harness.spansJson(t))
      m
    }

    val checkDir = s"${o.out}/check"
    Files.createDirectories(Paths.get(checkDir))
    Harness.writeFile(s"$checkDir/matches.jsonl", matches.toString)
    Harness.writeFile(s"$checkDir/state_before.txt", before.mkString("", "\n", "\n"))
    Harness.writeFile(s"$checkDir/state_after.txt", after.mkString("", "\n", "\n"))

    mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload,
      "setup_s" -> setupS,
      "ops" -> ops.toSeq,
      "errors" -> errors,
      "executed" -> executed,
      "boot_s" -> bootS,
      "heap_mb" -> Seq(heap0, heap1, heap2),
      "layers" -> layers)
  }
}
