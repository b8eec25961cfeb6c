package graft.store

import org.scalatest.funsuite.AnyFunSuite

/** Encoding-level contract of the two WAL formats (no Spark needed —
  * CommitLog is pure driver-side file IO). InterpreterSpec covers the
  * statement-replay integration; this spec pins the byte-level replay
  * contract on randomized entry sequences.
  */
class CommitLogSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpLog(format: CommitLog.Format): CommitLog = {
    val dir = tempDir("graft-cl")
    new CommitLog(dir.resolve("commit.log"), format)
  }

  private def replayAll(log: CommitLog): Vector[String] = {
    var out = Vector.empty[String]
    log.replay(out :+= _)
    out
  }

  test("randomized entries replay identically under both encodings") {
    val rnd = new scala.util.Random(7L)
    // statement-shaped strings over a hostile alphabet: quotes, unicode,
    // multi-byte UTF-8, tabs, interior runs of spaces — everything both
    // framings must carry; raw newlines only where binary is in play
    def entry(allowNewline: Boolean): String = {
      val alphabet = "ab cd'\"éπß;():,\t" + (if (allowNewline) "\n" else "")
      val s = Seq.fill(1 + rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      "INSERT NODE P (t: '" + s.replace("'", "''") + "');"
    }
    for (_ <- 1 to 20) {
      val textEntries = Vector.fill(1 + rnd.nextInt(12))(entry(false))
      val t = tmpLog(CommitLog.Text)
      val b = tmpLog(CommitLog.Binary)
      textEntries.foreach { e => t.append(e); b.append(e) }
      // replay = the trimmed append sequence, identically in both formats
      assert(replayAll(t) === textEntries.map(_.trim))
      assert(replayAll(b) === textEntries.map(_.trim))
      assert(t.entryCount === textEntries.size)
      assert(b.entryCount === textEntries.size)
      // binary additionally carries interior newlines losslessly
      val nlEntries = Vector.fill(1 + rnd.nextInt(6))(entry(true))
      val b2 = tmpLog(CommitLog.Binary)
      nlEntries.foreach(b2.append)
      assert(replayAll(b2) === nlEntries.map(_.trim))
    }
  }

  test("append-after-replay continues the sequence (crash-recovery append path)") {
    val b = tmpLog(CommitLog.Binary)
    b.append("CREATE NODE P (name: string);")
    b.append("INSERT NODE P (name: 'a');")
    // a rebooted process re-opens the same path and keeps appending
    val reopened = new CommitLog(b.path, CommitLog.Binary)
    assert(reopened.entryCount === 2)
    reopened.append("INSERT NODE P (name: 'b');")
    assert(replayAll(reopened).last === "INSERT NODE P (name: 'b');")
    assert(reopened.entryCount === 3)
  }

  test("text append rejects what its framing cannot represent; binary bounds record size") {
    val t = tmpLog(CommitLog.Text)
    intercept[IllegalArgumentException] { t.append("a\nb") }
    assert(t.entryCount === 0) // the reject left no partial bytes behind
    val b = tmpLog(CommitLog.Binary)
    intercept[IllegalArgumentException] {
      b.append("x" * (CommitLog.MaxRecordBytes + 1))
    }
    assert(b.entryCount === 0)
  }

  test("blank and whitespace-only appends are no-ops in both formats") {
    for (f <- Seq[CommitLog.Format](CommitLog.Text, CommitLog.Binary)) {
      val log = tmpLog(f)
      log.append("")
      log.append("   \t  ")
      assert(!java.nio.file.Files.exists(log.path) || log.entryCount === 0)
      log.append("  CREATE NODE P (name: string);  ")
      assert(replayAll(log) === Vector("CREATE NODE P (name: string);"))
    }
  }
}
