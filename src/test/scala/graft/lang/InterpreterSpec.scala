package graft.lang

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InterpreterSpec extends SparkSpec with graft.TempDirs {

  private def fresh() = new Interpreter(spark)
  private def sparkPath() = new Interpreter(spark, 0L)

  test("README script end-to-end: DDL, inserts, match") {
    val it = fresh()
    val res = it.executeScript(
      """CREATE NODE Person (name: string, age: int);
        |CREATE NODE Place (name: string);
        |CREATE EDGE Knows (FROM Person ONE, TO Person MANY);
        |CREATE EDGE LivesIn (FROM Person ONE, TO Place ONE);
        |INSERT NODE Person (name: 'John', age: 30);
        |INSERT NODE Person (name: 'Jane', age: 25);
        |INSERT NODE Place (name: 'New York');
        |MATCH Person WHERE name: 'John';""".stripMargin)
    val rows = res.get.collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("name") === "John")
    assert(rows(0).getAs[Long]("age") === 30L)
    assert(it.catalog.version === 4)
    assert(it.nodes("Person").count() === 2)
  }

  test("typed coercion: int/float/bool/date/datetime/null + defaults") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE T (i: int, f: float, b: bool, d: date, ts: datetime,
        |  s: string DEFAULT 'dflt', n: string);
        |INSERT NODE T (i: 7, f: 1.5, b: true, d: '2024-06-01', ts: '2024-06-01T12:30:00', n: null);""".stripMargin)
    val r = it.nodes("T").collect()(0)
    assert(r.getAs[Long]("i") === 7L)
    assert(r.getAs[Double]("f") === 1.5)
    assert(r.getAs[Boolean]("b") === true)
    assert(r.getAs[java.sql.Date]("d").toString === "2024-06-01")
    assert(r.getAs[String]("s") === "dflt") // default applied
    assert(r.isNullAt(r.fieldIndex("n")))
  }

  test("required-field enforcement and unknown fields rejected") {
    val it = fresh()
    it.executeScript("CREATE NODE P (name: string NOT NULL, age: int);")
    assertThrows[ExecError](it.executeScript("INSERT NODE P (age: 5);"))
    assertThrows[ExecError](it.executeScript("INSERT NODE P (name: 'x', nope: 1);"))
    assertThrows[ExecError](it.executeScript("INSERT NODE Nope (a: 1);"))
    // explicit null must not slip past NOT NULL
    assertThrows[ExecError](it.executeScript("INSERT NODE P (name: null);"))
    // literal/type mismatches are statement errors, not deferred crashes
    assertThrows[ExecError](it.executeScript("INSERT NODE P (name: 'x', age: true);"))
    // non-numeric id ref in an edge endpoint is a clean statement error
    it.executeScript(
      """CREATE EDGE E (FROM P ONE, TO P ONE);
        |INSERT NODE P (name: 'a');""".stripMargin)
    assertThrows[ExecError](
      it.executeScript("INSERT EDGE E FROM P ('nope') TO P (1);"))
  }

  test("CHECK constraints enforce at insert; NULL passes (SQL semantics)") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE Item (
        |  qty: int CHECK (qty >= 0 AND qty < 100),
        |  price: float CHECK (price > 0.0 AND qty < 50),
        |  state: string CHECK (state != 'void')
        |);""".stripMargin)
    // in-range row passes
    it.executeScript("INSERT NODE Item (qty: 10, price: 1.5, state: 'ok');")
    assert(it.nodes("Item").count() === 1)
    // each operator rejects a definite FALSE
    assertThrows[ExecError](
      it.executeScript("INSERT NODE Item (qty: 100, price: 1.0, state: 'ok');"))
    assertThrows[ExecError](
      it.executeScript("INSERT NODE Item (qty: 1, price: 0.0, state: 'ok');"))
    assertThrows[ExecError](
      it.executeScript("INSERT NODE Item (qty: 1, price: 1.0, state: 'void');"))
    // a CHECK may reference a SIBLING field (price's second atom)
    assertThrows[ExecError](
      it.executeScript("INSERT NODE Item (qty: 60, price: 1.0, state: 'ok');"))
    // NULL on the checked field passes — only definite FALSE rejects
    it.executeScript("INSERT NODE Item (qty: null, price: 1.0, state: 'ok');")
    assert(it.nodes("Item").count() === 2)
    // edge props enforce the same way
    it.executeScript(
      """CREATE EDGE Rated (FROM Item ONE, TO Item MANY,
        |  PROPS (stars: int CHECK (stars >= 1 AND stars <= 5)));""".stripMargin)
    it.executeScript("INSERT EDGE Rated FROM Item (1) TO Item (2) (stars: 5);")
    assertThrows[ExecError](it.executeScript(
      "INSERT EDGE Rated FROM Item (1) TO Item (2) (stars: 6);"))
    assert(it.edges("Rated").count() === 1)
  }

  test("insert edge resolves endpoints by id and by property") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE Person (name: string);
        |CREATE EDGE Knows (FROM Person ONE, TO Person MANY, PROPS (since: date));
        |INSERT NODE Person (name: 'John');
        |INSERT NODE Person (name: 'Jane');
        |INSERT EDGE Knows FROM Person (name: 'John') TO Person (name: 'Jane') (since: '2020-05-05');
        |INSERT EDGE Knows FROM Person (2) TO Person (name: 'John');""".stripMargin)
    val edges = it.edges("Knows").orderBy(col("_id")).collect()
    assert(edges.length === 2)
    assert(edges(0).getAs[Long]("_src") === 1L && edges(0).getAs[Long]("_dst") === 2L)
    assert(edges(0).getAs[java.sql.Date]("since").toString === "2020-05-05")
    assert(edges(1).getAs[Long]("_src") === 2L && edges(1).getAs[Long]("_dst") === 1L)
    // endpoint type validation
    it.executeScript("CREATE NODE Place (name: string); INSERT NODE Place (name: 'NY');")
    assertThrows[ExecError](it.executeScript(
      "INSERT EDGE Knows FROM Place (name: 'NY') TO Person (name: 'John');"))
    // unresolvable endpoint
    assertThrows[ExecError](it.executeScript(
      "INSERT EDGE Knows FROM Person (name: 'Nobody') TO Person (name: 'John');"))
  }

  test("edge props enforce NOT NULL like node fields") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE P (name: string);
        |CREATE EDGE E (FROM P ONE, TO P ONE, PROPS (weight: int NOT NULL, note: string));
        |INSERT NODE P (name: 'a');
        |INSERT NODE P (name: 'b');""".stripMargin)
    // missing required prop
    assertThrows[ExecError](it.executeScript(
      "INSERT EDGE E FROM P (name: 'a') TO P (name: 'b') (note: 'x');"))
    // explicit null for a required prop
    assertThrows[ExecError](it.executeScript(
      "INSERT EDGE E FROM P (name: 'a') TO P (name: 'b') (weight: null);"))
    // satisfied NOT NULL inserts fine; optional prop may be omitted
    it.executeScript("INSERT EDGE E FROM P (name: 'a') TO P (name: 'b') (weight: 3);")
    val e = it.edges("E").collect()(0)
    assert(e.getAs[Long]("weight") === 3L)
    assert(e.isNullAt(e.fieldIndex("note")))
  }

  test("int literals parse exactly: fractions rejected, no double round-trip") {
    val it = fresh()
    it.executeScript("CREATE NODE N (i: int, f: float);")
    // fractional literal into an int field is an error, not a truncation
    assertThrows[ExecError](it.executeScript("INSERT NODE N (i: 1.9);"))
    // above 2^53: a double round-trip would corrupt the low bits
    it.executeScript("INSERT NODE N (i: 9007199254740993, f: 1.5);")
    assert(it.nodes("N").collect()(0).getAs[Long]("i") === 9007199254740993L)
  }

  test("update and delete apply where-equality semantics") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE P (name: string, age: int);
        |INSERT NODE P (name: 'a', age: 1);
        |INSERT NODE P (name: 'b', age: 2);
        |INSERT NODE P (name: 'c', age: 2);
        |UPDATE NODE P SET age: 99 WHERE age: 2;
        |DELETE NODE P WHERE name: 'a';""".stripMargin)
    val rows = it.nodes("P").orderBy("name").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq === Seq("b", "c"))
    assert(rows.forall(_.getAs[Long]("age") === 99L))
    // WHERE-less forms hit every row (reference dml_test.go)
    it.executeScript("UPDATE NODE P SET age: 7;")
    assert(it.nodes("P").collect().forall(_.getAs[Long]("age") === 7L))
    it.executeScript("DELETE NODE P;")
    assert(it.nodes("P").count() === 0)
  }

  test("alter migrates stored data; replay reconstructs state") {
    val it = fresh()
    it.replay(
      """CREATE NODE P (name: string);
        |INSERT NODE P (name: 'x');
        |ALTER NODE P ADD age: int;
        |INSERT NODE P (name: 'y', age: 5);
        |ALTER NODE P MODIFY age: float;""".stripMargin)
    val rows = it.nodes("P").orderBy("_id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("age")))
    assert(rows(1).getAs[Double]("age") === 5.0)
    // same script replayed into a new interpreter gives the same state
    val it2 = fresh()
    it2.replay(
      """CREATE NODE P (name: string);
        |INSERT NODE P (name: 'x');
        |ALTER NODE P ADD age: int;
        |INSERT NODE P (name: 'y', age: 5);
        |ALTER NODE P MODIFY age: float;""".stripMargin)
    assert(it2.nodes("P").orderBy("_id").collect().toSeq ===
      it.nodes("P").orderBy("_id").collect().toSeq)
  }

  test("commit log: executeLogged appends mutations, replayLog reconstructs state") {
    val dir = tempDir("graft-wal").toString
    val log = graft.store.CommitLog.open(dir)
    val it = fresh()
    it.executeLogged(
      """CREATE NODE Person (name: string, age: int);
        |INSERT NODE Person (name: 'John', age: 30);
        |INSERT NODE Person (name: 'Jane', age: 25);
        |UPDATE NODE Person SET age: 31 WHERE name: 'John';
        |MATCH Person WHERE name: 'John';""".stripMargin, log)
    // MATCH is a read — not logged
    val logged = java.nio.file.Files.readAllLines(log.path)
    assert(logged.size === 4)
    assert(!logged.toString.contains("MATCH"))
    // boot path: a fresh interpreter replaying the log reaches the same state
    val rebooted = fresh()
    rebooted.replayLog(log)
    val rows = rebooted.nodes("Person").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("age")).toMap
    assert(rows === Map("John" -> 31L, "Jane" -> 25L))
  }

  test("commit log: a CHECK'd schema round-trips through render and replay") {
    val dir = tempDir("graft-wal3").toString
    val log = graft.store.CommitLog.open(dir)
    val it = fresh()
    it.executeLogged(
      """CREATE NODE Item (qty: int CHECK (qty >= 0 AND qty < 100));
        |INSERT NODE Item (qty: 10);""".stripMargin, log)
    // the logged DDL carries the constraint text verbatim
    assert(java.nio.file.Files.readAllLines(log.path).toString
      .contains("CHECK (qty >= 0 AND qty < 100)"))
    // a rebooted interpreter reconstructs the constraint, data AND
    // enforcement — the replayed catalog still rejects violations
    val rebooted = fresh()
    rebooted.replayLog(log)
    assert(rebooted.nodes("Item").count() === 1)
    assertThrows[ExecError](
      rebooted.executeScript("INSERT NODE Item (qty: 200);"))
  }

  test("SHOW and DESCRIBE introspect the catalog and never reach the log") {
    val dir = tempDir("graft-wal2").toString
    val log = graft.store.CommitLog.open(dir)
    val it = fresh()
    it.executeLogged(
      """CREATE NODE Person (id: int PRIMARY KEY, name: string NOT NULL,
        |  status: enum<'a','b'> DEFAULT 'a');
        |CREATE NODE Place (name: string);
        |CREATE EDGE Knows (FROM Person ONE, TO Person MANY, PROPS (since: string));""".stripMargin,
      log)
    val shown = it.executeScript("SHOW NODES;").get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(shown.toSeq === Seq(("Person", 3L, "id"), ("Place", 1L, "")))
    val edges = it.executeLogged("SHOW EDGES;", log).get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    assert(edges.toSeq === Seq(("Knows", "Person", "ONE", "Person", "MANY", 1L)))
    val desc = it.executeScript("DESCRIBE NODE Person;").get.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getBoolean(4),
        Option(r.getString(5))))
    assert(desc.toSeq === Seq(
      ("id", "int", true, true, None),
      ("name", "string", false, true, None),
      ("status", "enum<'a', 'b'>", false, false, Some("a"))))
    val descE = it.executeScript("DESCRIBE EDGE Knows;").get.collect()
    assert(descE.map(_.getString(0)).toSeq === Seq("since"))
    // CHECK constraints surface in the describe table
    it.executeScript("CREATE NODE Item (qty: int CHECK (qty >= 0 AND qty < 100));")
    val descC = it.executeScript("DESCRIBE NODE Item;").get.collect()
    assert(descC.map(r => (r.getString(0), Option(r.getString(6)))).toSeq ===
      Seq(("qty", Some("qty >= 0 AND qty < 100"))))
    assertThrows[ExecError](it.executeScript("DESCRIBE NODE Nope;"))
    // reads never reach the log: only the three DDL statements are there
    assert(java.nio.file.Files.readAllLines(log.path).size === 3)
  }

  test("multi-element match unions every element's result set") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE Person (name: string, age: int);
        |CREATE NODE Place (name: string);
        |INSERT NODE Person (name: 'x', age: 1);
        |INSERT NODE Person (name: 'y', age: 2);
        |INSERT NODE Place (name: 'x');""".stripMargin)
    // both element types scanned (reference executeMatch loops the pattern)
    val all = it.executeScript("MATCH Person, Place;").get.collect()
    assert(all.length === 3)
    assert(all.map(_.getAs[String]("_label")).sorted.toSeq === Seq("Person", "Person", "Place"))
    // WHERE applies per element; Place lacks `age`, so it matches nothing
    val aged = it.executeScript("MATCH Person, Place WHERE age: 1;").get.collect()
    assert(aged.map(r => (r.getAs[String]("_label"), r.getAs[String]("name"))).toSeq
      === Seq(("Person", "x")))
    // single-element pattern keeps strict unknown-field errors
    assertThrows[ExecError](it.executeScript("MATCH Place WHERE age: 1;"))
    // no element has the field at all → error, not silent empty
    assertThrows[ExecError](it.executeScript("MATCH Person, Place WHERE nope: 1;"))
  }

  test("match with return projection and drop") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE P (name: string, age: int);
        |INSERT NODE P (name: 'a', age: 1);""".stripMargin)
    val res = it.executeScript("MATCH P WHERE age: 1 RETURN name;").get
    assert(res.columns.toSeq === Seq("name"))
    it.executeScript("DROP NODE P;")
    assertThrows[ExecError](it.nodes("P"))
  }

  private def stateOf(it: Interpreter, nodeLabels: Seq[String],
      edgeLabels: Seq[String] = Nil) =
    (nodeLabels.map(l => l -> it.nodes(l).orderBy("_id").collect().toSeq).toMap,
      edgeLabels.map(l => l -> it.edges(l).orderBy("_id").collect().toSeq).toMap)

  test("WAL compaction: snapshot + suffix replay ≡ uncompacted replay, bit-identical; log bounded by post-snapshot statements") {
    val dir = tempDir("graft-compact").toString
    val pre =
      """CREATE NODE Person (name: string, age: int);
        |CREATE NODE Place (name: string);
        |CREATE EDGE Knows (FROM Person ONE, TO Person MANY, PROPS (since: string));
        |INSERT NODE Person (name: 'John', age: 30);
        |INSERT NODE Person (name: 'Jane', age: 25);
        |INSERT NODE Place (name: 'NYC');
        |INSERT EDGE Knows FROM Person (1) TO Person (2) (since: '2019');
        |UPDATE NODE Person SET age: 31 WHERE name: 'John';""".stripMargin
    val post =
      """INSERT NODE Person (name: 'Late', age: 1);
        |DELETE NODE Place WHERE name: 'NYC';""".stripMargin
    val it = fresh()
    val log0 = graft.store.CommitLog.open(dir)
    it.executeLogged(pre, log0)
    val preLines = java.nio.file.Files.readAllLines(log0.path).size
    assert(preLines === 8)
    val newLog = it.compact(dir)
    // old-generation log dropped; live log is a NEW empty generation
    assert(!java.nio.file.Files.exists(log0.path))
    assert(newLog.path !== log0.path)
    it.executeLogged(post, newLog)
    // the WAL holds ONLY post-snapshot statements — compaction's point
    assert(java.nio.file.Files.readAllLines(newLog.path).size === 2)
    // in-memory state after compaction matches an uncompacted replay
    val plain = fresh()
    plain.replay(pre); plain.replay(post)
    val want = stateOf(plain, Seq("Person", "Place"), Seq("Knows"))
    assert(stateOf(it, Seq("Person", "Place"), Seq("Knows")) === want)
    // boot path: snapshot load ⊕ suffix replay, bit-identical tables
    val rebooted = fresh()
    rebooted.bootFrom(dir)
    assert(stateOf(rebooted, Seq("Person", "Place"), Seq("Knows")) === want)
    assert(rebooted.catalog.version === it.catalog.version)
    // id counter survives: the next insert cannot collide
    rebooted.executeScript("INSERT NODE Person (name: 'After', age: 2);")
    val ids = rebooted.nodes("Person").select("_id").collect().map(_.getLong(0))
    assert(ids.distinct.length === ids.length)
    // second compaction rolls the generation again and stays equivalent
    val log2 = rebooted.compact(dir)
    assert(java.nio.file.Files.readAllLines(log2.path).isEmpty)
    val again = fresh()
    again.bootFrom(dir)
    assert(stateOf(again, Seq("Person", "Place"), Seq("Knows"))._1("Person")
      === stateOf(rebooted, Seq("Person", "Place"), Seq("Knows"))._1("Person"))
  }

  test("WAL auto-compaction policy keeps the live log under the statement bound") {
    val dir = tempDir("graft-autocompact").toString
    val it = fresh()
    var log = it.bootFrom(dir)
    it.executeLogged("CREATE NODE P (name: string);", log)
    for (i <- 1 to 10) {
      it.executeLogged(s"INSERT NODE P (name: 'u$i');", log)
      log = it.compactIfNeeded(dir, log, maxStatements = 4)
      // the policy bound: a just-checked log is always under the knob
      assert(java.nio.file.Files.readAllLines(log.path).size < 4)
    }
    // policy fired at least once (generation moved past 0)
    assert(graft.store.Snapshot.latest(dir).exists(_._1 >= 1))
    // state intact through the rolls
    val rebooted = fresh()
    rebooted.bootFrom(dir)
    assert(rebooted.nodes("P").count() === 10)
  }

  test("WAL compaction: an unpublished snapshot (no meta.json) is invisible — boot falls back to the full log") {
    val dir = tempDir("graft-compact2").toString
    val it = fresh()
    val log = graft.store.CommitLog.open(dir)
    it.executeLogged(
      """CREATE NODE P (name: string);
        |INSERT NODE P (name: 'a');""".stripMargin, log)
    // a crashed compaction: snapshot dir exists, meta.json never landed
    val partial = graft.store.Snapshot.snapDir(dir, 1)
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.writeString(partial.resolve("catalog.json"), "{}")
    assert(graft.store.Snapshot.latest(dir).isEmpty)
    val rebooted = fresh()
    rebooted.bootFrom(dir)
    assert(rebooted.nodes("P").collect().map(_.getAs[String]("name")).toSeq
      === Seq("a"))
  }

  test("binary commit log: frames replay to the same state as the text log") {
    import graft.store.CommitLog
    val script =
      """CREATE NODE Person (name: string, age: int);
        |INSERT NODE Person (name: 'John', age: 30);
        |INSERT NODE Person (name: 'Jane', age: 25);
        |UPDATE NODE Person SET age: 31 WHERE name: 'John';
        |MATCH Person WHERE name: 'John';""".stripMargin
    val tDir = tempDir("graft-wal-t").toString
    val bDir = tempDir("graft-wal-b").toString
    val tLog = CommitLog.open(tDir)
    val bLog = CommitLog.open(bDir, CommitLog.Binary)
    fresh().executeLogged(script, tLog)
    fresh().executeLogged(script, bLog)
    // same replayable entry sequence under both encodings (reads skipped)
    assert(bLog.entryCount === 4)
    var tEntries = Vector.empty[String]; tLog.replay(tEntries :+= _)
    var bEntries = Vector.empty[String]; bLog.replay(bEntries :+= _)
    assert(bEntries === tEntries)
    // the on-disk bytes really are length-prefixed frames: first header
    // = byte length of the first rendered statement
    val bytes = java.nio.file.Files.readAllBytes(bLog.path)
    val firstLen = java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt
    assert(firstLen === bEntries.head.getBytes("UTF-8").length)
    assert(new String(bytes, 4, firstLen, "UTF-8") === bEntries.head)
    // boot path from the binary log reconstructs identical state
    val rebooted = fresh()
    rebooted.replayLog(bLog)
    val rows = rebooted.nodes("Person").collect()
      .map(r => r.getAs[String]("name") -> r.getAs[Long]("age")).toMap
    assert(rows === Map("John" -> 31L, "Jane" -> 25L))
  }

  test("binary commit log: represents the multi-line statement the text format rejects") {
    import graft.store.CommitLog
    val script = "CREATE NODE D (t: string);\n" +
      "INSERT NODE D (t: 'line one\nline two');"
    val tDir = tempDir("graft-wal-ml-t").toString
    val bDir = tempDir("graft-wal-ml-b").toString
    // text: rejected BEFORE any state change (replay poisoning guard)
    val itT = fresh()
    itT.executeScript("CREATE NODE D (t: string);")
    intercept[ExecError] {
      itT.executeLogged("INSERT NODE D (t: 'a\nb');", CommitLog.open(tDir))
    }
    // binary: framed, replayed, and the interior newline survives intact
    val bLog = CommitLog.open(bDir, CommitLog.Binary)
    fresh().executeLogged(script, bLog)
    val rebooted = fresh()
    rebooted.replayLog(bLog)
    assert(rebooted.nodes("D").collect().map(_.getAs[String]("t")).toSeq
      === Seq("line one\nline two"))
  }

  test("binary commit log: torn header ends replay cleanly; torn body and bad length are corruption") {
    import graft.store.CommitLog
    val dir = tempDir("graft-wal-torn")
    def logWith(bytes: Array[Byte]): CommitLog = {
      val p = java.nio.file.Files.createTempFile(dir, "log", ".bin")
      java.nio.file.Files.write(p, bytes)
      new CommitLog(p, CommitLog.Binary)
    }
    def frame(s: String): Array[Byte] = {
      val b = s.getBytes("UTF-8")
      java.nio.ByteBuffer.allocate(4 + b.length).putInt(b.length).put(b).array()
    }
    val good = frame("CREATE NODE P (name: string);")
    // a crash mid-header append: entries before the tear replay, then stop
    var seen = Vector.empty[String]
    logWith(good ++ Array[Byte](0, 0)).replay(seen :+= _)
    assert(seen === Vector("CREATE NODE P (name: string);"))
    // a partial BODY is corruption, not a clean end (reference
    // commitlog.go:181 errors on ReadFull of the body)
    intercept[java.io.EOFException] {
      logWith(good ++ frame("INSERT NODE P (name: 'x');").dropRight(3))
        .replay(_ => ())
    }
    // a length past the 10 MB record guard is corruption
    intercept[IllegalStateException] {
      logWith(java.nio.ByteBuffer.allocate(4).putInt(64 << 20).array())
        .replay(_ => ())
    }
  }

  test("binary commit log: auto-compaction counts frames and the rolled generation keeps the format") {
    import graft.store.CommitLog
    val dir = tempDir("graft-autocompact-b").toString
    val it = fresh()
    var log = it.bootFrom(dir, CommitLog.Binary)
    assert(log.format === CommitLog.Binary)
    it.executeLogged("CREATE NODE P (name: string);", log)
    for (i <- 1 to 10) {
      it.executeLogged(s"INSERT NODE P (name: 'u$i');", log)
      log = it.compactIfNeeded(dir, log, maxStatements = 4)
      assert(log.format === CommitLog.Binary)
      assert(log.entryCount < 4)
    }
    assert(graft.store.Snapshot.latest(dir).exists(_._1 >= 1))
    val rebooted = fresh()
    rebooted.bootFrom(dir, CommitLog.Binary)
    assert(rebooted.nodes("P").count() === 10)
  }

  test("CHECK literal typing is shared with the batch finder: fractional literal on int field") {
    val it = fresh()
    // CHECK (qty < 4.5) on an int field must be DDL-accepted and
    // enforced by comparing as double — the same lexical rule
    // Constraints.complementColumn uses, so insert-time and batch
    // semantics can never diverge
    it.executeScript("CREATE NODE N (qty: int CHECK (qty < 4.5));")
    it.executeScript("INSERT NODE N (qty: 4);")
    assertThrows[ExecError](it.executeScript("INSERT NODE N (qty: 5);"))
    assert(it.nodes("N").count() === 1)
  }

  test("CHECK enforces on date and datetime fields at insert") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE Ev (d: date CHECK (d >= '1995-01-01'),
        |  ts: datetime CHECK (ts < '2000-01-01T00:00:00'));""".stripMargin)
    it.executeScript("INSERT NODE Ev (d: '1996-05-05', ts: '1999-12-31T23:59:59');")
    assertThrows[ExecError](it.executeScript("INSERT NODE Ev (d: '1994-01-01');"))
    assertThrows[ExecError](it.executeScript("INSERT NODE Ev (ts: '2001-01-01T00:00:00');"))
    assert(it.nodes("Ev").count() === 1)
  }

  test("DDL-time CHECK validation rejects unenforceable constraints in scripts") {
    val it = fresh()
    // unknown sibling, incompatible literal, unparseable date — all
    // reject at CREATE/ALTER, not on the first unlucky INSERT
    assertThrows[graft.catalog.DdlError](
      it.executeScript("CREATE NODE P (a: float CHECK (missing > 0.0));"))
    assertThrows[graft.catalog.DdlError](
      it.executeScript("CREATE NODE P (a: int CHECK (a = 'x'));"))
    assertThrows[graft.catalog.DdlError](
      it.executeScript("CREATE NODE P (d: date CHECK (d > 'nope'));"))
    // nothing was created by the failed statements
    assert(it.catalog.nodes.isEmpty)
  }

  test("ALTER-time CHECK revalidation: violating stored rows reject the ALTER") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE T (a: int, b: float);
        |INSERT NODE T (a: 10, b: 1.5);
        |INSERT NODE T (a: 3, b: 0.5);""".stripMargin)
    // MODIFY adding a CHECK the stored rows violate → rejected, schema
    // and data unchanged (strict ADD CONSTRAINT semantics)
    assertThrows[ExecError](
      it.executeScript("ALTER NODE T MODIFY a: int CHECK (a < 5);"))
    assert(it.catalog.nodes("T").field("a").get.check.isEmpty)
    // ADD of a new field whose CHECK references a violating sibling →
    // rejected too (the new column is NULL and passes, the sibling atom
    // is definitely FALSE on a stored row)
    assertThrows[ExecError](
      it.executeScript("ALTER NODE T ADD c: int CHECK (a < 5);"))
    assert(it.catalog.nodes("T").field("c").isEmpty)
    // a CHECK the stored rows satisfy is accepted and then enforced
    it.executeScript("ALTER NODE T MODIFY a: int CHECK (a < 50);")
    assert(it.catalog.nodes("T").field("a").get.check.nonEmpty)
    assertThrows[ExecError](it.executeScript("INSERT NODE T (a: 99);"))
    it.executeScript("INSERT NODE T (a: 20);")
    assert(it.nodes("T").count() === 3)
  }

  test("scripted INDEX reaches the catalog layout and survives WAL replay + snapshot boot") {
    val dir = tempDir("graft-idx").toString
    val it = fresh()
    val log = graft.store.CommitLog.open(dir)
    it.executeLogged("CREATE NODE T (k: int PRIMARY KEY INDEX, v: string INDEX);", log)
    it.executeLogged("INSERT NODE T (k: 1, v: 'x');", log)
    val expected = graft.catalog.LayoutSpec(
      bucketBy = Some((graft.catalog.Ddl.IndexBuckets, Seq("k"))), sortBy = Seq("v"))
    assert(it.catalog.nodes("T").layout === expected)
    // ALTER adding an index migrates the layout
    it.executeLogged("ALTER NODE T ADD j: int INDEX;", log)
    assert(it.catalog.nodes("T").layout.sortBy === Seq("v", "j"))
    // WAL replay carries it (render emits INDEX, parser reads it back)
    val replayed = fresh()
    replayed.replayLog(log)
    assert(replayed.catalog.nodes("T").layout ===
      it.catalog.nodes("T").layout)
    // snapshot boot (catalog.json, NOT log replay) carries it too
    val snapDir = tempDir("graft-idx-snap").toString
    val it2 = fresh()
    val log2 = graft.store.CommitLog.open(snapDir)
    it2.executeLogged("CREATE NODE T (k: int PRIMARY KEY INDEX, v: string INDEX);", log2)
    it2.executeLogged("INSERT NODE T (k: 1, v: 'x');", log2)
    it2.compact(snapDir)
    val booted = fresh()
    booted.bootFrom(snapDir)
    assert(booted.catalog.nodes("T").layout === expected)
  }

  test("generation GC: boot sweeps crashed-compaction partials and out-of-retention debris") {
    import graft.store.{CommitLog, Snapshot}
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft-gc").toString
    val it = fresh()
    var log = CommitLog.open(dir)
    it.executeLogged("CREATE NODE P (v: int);", log)
    (1 to 5).foreach(i => it.executeLogged(s"INSERT NODE P (v: $i);", log))
    log = it.compact(dir) // publishes generation 1
    it.executeLogged("INSERT NODE P (v: 6);", log)
    // crash mid-compaction, twice: partial generations WITHOUT meta.json
    Seq(2L, 3L).foreach { g =>
      val partial = Snapshot.snapDir(dir, g)
      Files.createDirectories(partial.resolve("nodes").resolve("P"))
      Files.writeString(partial.resolve("catalog.json"), "{}")
    }
    // crash between publishMeta and the old-generation drop: gen-0
    // debris lingering (plain log), plus an orphan log above newest
    Files.writeString(Paths.get(dir).resolve("commit.log"), "INSERT NODE P (v: 99);\n")
    Files.writeString(Paths.get(dir).resolve("commit.5.log"), "")
    // boot: sweep runs first, then bounded replay
    val booted = fresh()
    booted.bootFrom(dir)
    assert(booted.nodes("P").count() === 6) // snapshot 5 + suffix 1
    val left = Files.list(Paths.get(dir)).iterator()
    val names = scala.jdk.CollectionConverters.IteratorHasAsScala(left)
      .asScala.map(_.getFileName.toString).toSet
    assert(names === Set("snapshot-1", "commit.1.log"),
      s"sweep left unexpected entries: $names")
    // bounded retention: a second compaction publishes gen 2, and the
    // default sweep (keep=1) retires gen 1 entirely
    val log2 = booted.compact(dir)
    booted.executeLogged("INSERT NODE P (v: 7);", log2)
    val names2 = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(Paths.get(dir)).iterator())
      .asScala.map(_.getFileName.toString).toSet
    assert(names2 === Set("snapshot-2", "commit.2.log"),
      s"post-compaction sweep left unexpected entries: $names2")
    // keep=2 retains the two newest published generations WITH their
    // suffix logs (the raised-retention / time-travel deployment)
    val dir2 = tempDir("graft-gc2").toString
    val it2 = fresh()
    var l2 = CommitLog.open(dir2)
    it2.executeLogged("CREATE NODE Q (v: int);", l2)
    l2 = it2.compact(dir2) // publishes gen 1
    it2.executeLogged("INSERT NODE Q (v: 1);", l2)
    // hand-publish generations 2 and 3 (compact's own sweep is keep=1,
    // so build the multi-generation state directly)
    Seq(2L, 3L).foreach { g =>
      val d = Snapshot.snapDir(dir2, g)
      Files.createDirectories(d)
      Files.writeString(d.resolve("catalog.json"), "{}")
      Snapshot.publishMeta(d, Snapshot.Meta(g, 10L, Seq("Q"), Nil))
      Files.writeString(Paths.get(dir2).resolve(s"commit.$g.log"), "")
    }
    Snapshot.sweep(dir2, keep = 2)
    val names3 = scala.jdk.CollectionConverters.IteratorHasAsScala(
      Files.list(Paths.get(dir2)).iterator())
      .asScala.map(_.getFileName.toString).toSet
    assert(names3 === Set("snapshot-2", "commit.2.log",
      "snapshot-3", "commit.3.log"),
      s"keep=2 must retain exactly the two newest generations + logs: $names3")
  }

  test("CHECK with OR and field-vs-field atoms enforces at insert (3VL)") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE T (lo: int, hi: int, flag: bool
        |  CHECK (lo < hi OR flag = true AND lo = 0));""".stripMargin)
    it.executeScript("INSERT NODE T (lo: 1, hi: 5);") // first disjunct true
    it.executeScript("INSERT NODE T (lo: 0, hi: 0, flag: true);") // second
    // both disjuncts definitely false -> reject
    assertThrows[ExecError](
      it.executeScript("INSERT NODE T (lo: 7, hi: 3, flag: false);"))
    // NULL can only save: hi null makes disjunct 1 NULL (not false),
    // so the row passes even though disjunct 2 is false
    it.executeScript("INSERT NODE T (lo: 7, flag: false);")
    assert(it.nodes("T").count() === 3)
    // DDL-time validation covers the field-vs-field form too
    assertThrows[graft.catalog.DdlError](
      it.executeScript("CREATE NODE U (a: int CHECK (a < missing));"))
    assertThrows[graft.catalog.DdlError](
      it.executeScript("CREATE NODE U (a: int, s: string CHECK (a < s));"))
    // WAL round-trip of the OR form
    val rendered = graft.lang.Ast.render(
      graft.lang.Parser.parse(
        "CREATE NODE V (a: int, b: int CHECK (a > 1 OR b < 2 AND a = b));").head)
    assert(rendered === "CREATE NODE V (a: int, b: int CHECK (a > 1 OR b < 2 AND a = b));")
    it.executeScript(rendered)
    assert(it.catalog.nodes("V").field("b").get.check.size === 2)
  }

  /** Jobs `body` submits, counted by a listener that sees only this
    * thread's job group. The listener bus is drained before and after,
    * so no other test's late events land in the count.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.Bridge
    val sc = spark.sparkContext
    val group = s"interpreter-shape-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    Bridge.flushListenerBus(sc, 10000)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "interpreter shape")
    try body
    finally {
      sc.clearJobGroup()
      Bridge.flushListenerBus(sc, 10000)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** SQL executions `body` starts and generated classes it compiles.
    * Executions are counted by a `QueryExecutionListener`, with the
    * listener bus drained before and after as in [[jobsOf]].
    */
  private def sqlOf(body: => Unit): (Int, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.util.QueryExecutionListener
    val sc = spark.sparkContext
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        execs.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        execs.incrementAndGet()
    }
    Bridge.flushListenerBus(sc, 10000)
    spark.listenerManager.register(listener)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      Bridge.flushListenerBus(sc, 10000)
      spark.listenerManager.unregister(listener)
    }
    (execs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
  }

  // budget 0 keeps every label on the Spark path this test pins: a
  // driver-resident label is a LocalTableScan, read at min(rows, leaf
  // parallelism) slices
  test("statement path shape: labels stay one partition wide, an INSERT EDGE runs one job per endpoint, a MATCH one job") {
    val dir = tempDir("graft-shape").toString
    val it = sparkPath()
    val log = graft.store.CommitLog.open(dir)
    it.executeLogged(
      """CREATE NODE P (name: string, n: int);
        |CREATE EDGE E (FROM P ONE, TO P MANY);""".stripMargin, log)
    for (r <- 1 to 5) {
      it.executeLogged(
        s"INSERT NODE P (name: 'a$r', n: $r); INSERT NODE P (name: 'b$r', n: $r);", log)
      it.executeLogged(s"UPDATE NODE P SET n: ${10 * r} WHERE name: 'a$r';", log)
    }
    // each batch merges back to the label's width instead of adding
    // defaultParallelism slices to it
    assert(it.nodes("P").rdd.getNumPartitions === 1)
    val edgeJobs = jobsOf(it.executeLogged(
      "INSERT EDGE E FROM P (name: 'a1') TO P (name: 'b5');", log))
    assert(edgeJobs <= 2, s"INSERT EDGE by property ran $edgeJobs jobs")
    val matchJobs = jobsOf(it.executeLogged("MATCH P WHERE n: 10;", log).get.collect())
    assert(matchJobs === 1)
    assert(it.edges("E").rdd.getNumPartitions === 1)
    // a snapshot of a one-wide label reads back one wide, and merges
    // into it keep that width
    val live = it.compact(dir)
    assert(it.nodes("P").rdd.getNumPartitions === 1)
    it.executeLogged("INSERT NODE P (name: 'c', n: 1);", live)
    assert(it.nodes("P").rdd.getNumPartitions === 1)
    val rebooted = sparkPath()
    rebooted.bootFrom(dir)
    assert(rebooted.nodes("P").rdd.getNumPartitions === 1)
    assert(rebooted.edges("E").rdd.getNumPartitions === 1)
    assert(rebooted.nodes("P").count() === 11)
  }

  test("endpoint resolution: the smallest surviving id over checkpointed and pending rows; a miss logs nothing") {
    val dir = tempDir("graft-endpoint").toString
    val it = fresh()
    val log = graft.store.CommitLog.open(dir)
    // ids: a=1 b=2 c=3; the DELETEs checkpoint the base {b}, and d=4,
    // e=5, f=6 stay pending until an endpoint lookup merges them
    it.executeLogged(
      """CREATE NODE P (name: string, tag: string);
        |CREATE EDGE E (FROM P ONE, TO P MANY);
        |INSERT NODE P (name: 'a', tag: 'x');
        |INSERT NODE P (name: 'b', tag: 'x');
        |INSERT NODE P (name: 'c', tag: 'y');
        |DELETE NODE P WHERE name: 'a';
        |DELETE NODE P WHERE name: 'c';
        |INSERT NODE P (name: 'd', tag: 'x');
        |INSERT NODE P (name: 'e', tag: 'y');
        |INSERT NODE P (name: 'f', tag: 'y');""".stripMargin, log)
    // x matches 2 (base) and 4 (pending); y matches 5 and 6 (pending)
    it.executeLogged("INSERT EDGE E FROM P (tag: 'x') TO P (tag: 'y');", log)
    // edge 7; h=8 is pending when its id ref resolves
    it.executeLogged("INSERT NODE P (name: 'h', tag: 'x');", log)
    it.executeLogged("INSERT EDGE E FROM P (8) TO P (2);", log)
    val entries = log.entryCount
    assert(entries === 13)
    // misses: a deleted id, a deleted row's property, no match at all
    for (miss <- Seq(
        "INSERT EDGE E FROM P (1) TO P (2);",
        "INSERT EDGE E FROM P (2) TO P (3);",
        "INSERT EDGE E FROM P (name: 'a') TO P (2);",
        "INSERT EDGE E FROM P (tag: 'x') TO P (tag: 'z');")) {
      val e = intercept[ExecError](it.executeLogged(miss, log))
      assert(e.getMessage === "no matching P node found")
    }
    assert(log.entryCount === entries)
    val got = it.edges("E").orderBy("_id").collect()
      .map(r => (r.getAs[Long]("_src"), r.getAs[Long]("_dst"))).toSeq
    assert(got === Seq((2L, 5L), (8L, 2L)))
  }

  test("driver-resident labels: INSERT EDGE, UPDATE, DELETE and a single-element MATCH run no job") {
    val dir = tempDir("graft-local").toString
    val it = fresh()
    val log = graft.store.CommitLog.open(dir)
    it.executeLogged(
      """CREATE NODE P (name: string, n: int);
        |CREATE EDGE E (FROM P ONE, TO P MANY);""".stripMargin, log)
    for (r <- 1 to 5)
      it.executeLogged(s"INSERT NODE P (name: 'a$r', n: $r);", log)
    val steps = Seq(
      "INSERT EDGE by id" -> (() => it.executeLogged("INSERT EDGE E FROM P (1) TO P (2);", log)),
      "INSERT EDGE by property" -> (() =>
        it.executeLogged("INSERT EDGE E FROM P (name: 'a3') TO P (n: 4);", log)),
      "UPDATE" -> (() => it.executeLogged("UPDATE NODE P SET n: 10 WHERE name: 'a1';", log)),
      "DELETE" -> (() => it.executeLogged("DELETE NODE P WHERE name: 'a5';", log)),
      "MATCH" -> (() => it.executeLogged("MATCH P WHERE n: 10;", log).get.collect()))
    for ((name, step) <- steps) {
      var execs = 0
      val jobs = jobsOf { execs = sqlOf { step(); () }._1 }
      assert(jobs === 0, s"$name ran $jobs jobs")
      // only the MATCH's collect plans a query
      assert(execs === (if (name == "MATCH") 1 else 0), s"$name started $execs SQL executions")
    }
    // an UPDATE's numeric literals reach no generated code: the driver
    // evaluates its projection interpreted
    val (execs, compiled) = sqlOf((1 to 10).foreach(r =>
      it.executeLogged(s"UPDATE NODE P SET n: ${100 + r} WHERE n: ${r - 1};", log)))
    assert((execs, compiled) === ((0, 0L)))
    assert(it.executeScript("MATCH P WHERE n: 10;").get.collect().map(_.getAs[String]("name"))
      .toSeq === Seq("a1"))
    assert(it.edges("E").orderBy("_id").collect()
      .map(r => (r.getAs[Long]("_src"), r.getAs[Long]("_dst"))).toSeq === Seq((1L, 2L), (3L, 4L)))
    assert(it.nodes("P").count() === 4)
  }

  test("bootFrom of a compacted store loads each driver-resident label in at most one job") {
    val dir = tempDir("graft-localboot").toString
    val it = fresh()
    val log = graft.store.CommitLog.open(dir)
    it.executeLogged(
      """CREATE NODE P (name: string, n: int);
        |CREATE NODE Q (tag: string);
        |CREATE EDGE E (FROM P ONE, TO Q MANY);""".stripMargin, log)
    for (r <- 1 to 6)
      it.executeLogged(
        s"INSERT NODE P (name: 'a$r', n: $r); INSERT NODE Q (tag: 't$r');", log)
    it.executeLogged("INSERT EDGE E FROM P (name: 'a1') TO Q (tag: 't2');", log)
    val live = it.compact(dir)
    // a non-empty suffix log of every statement kind
    it.executeLogged(
      """INSERT NODE P (name: 'late', n: 7);
        |INSERT EDGE E FROM P (name: 'late') TO Q (tag: 't3');
        |UPDATE NODE P SET n: 0 WHERE name: 'a2';
        |DELETE NODE Q WHERE tag: 't6';""".stripMargin, live)
    assert(live.entryCount === 4)
    val booted = fresh()
    val jobs = jobsOf(booted.bootFrom(dir))
    assert(jobs <= 3, s"boot ran $jobs jobs for 3 snapshot labels")
    assert(stateOf(booted, Seq("P", "Q"), Seq("E")) === stateOf(it, Seq("P", "Q"), Seq("E")))
  }

  /** `body` with the session conf `kv` set, restored after. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Names of the entries of a snapshot label's dir, checksums left out. */
  private def snapshotFiles(dir: java.nio.file.Path): Set[String] = {
    val ls = java.nio.file.Files.list(dir)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(ls.iterator).asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet
    finally ls.close()
  }

  // arrays take no literal in a statement, so a Spark-written snapshot
  // brings them in: it boots onto the driver, which compacts it again
  test("driver snapshots: every catalog type round-trips through spark.read.parquet and bootFrom, under either write rebase") {
    import graft.store.Snapshot
    val it = fresh()
    it.executeScript(
      """CREATE NODE T (s: string, x: text, i: int, f: float, b: bool, u: uuid, d: date,
        |  tm: time, ts: datetime, j: json, bl: blob, e: enum<'lo', 'hi'>,
        |  ai: array<int>, ast: array<string>);
        |CREATE NODE Empty (s: string);
        |INSERT NODE T (s: 'str', x: 'long text', i: 42, f: 2.5, b: true,
        |  u: '123e4567-e89b-12d3-a456-426614174000', d: '1500-03-01', tm: '12:34:56',
        |  ts: '1400-06-15T10:20:30', j: '{"k": [1, 2]}', bl: 'bytes', e: 'hi');
        |INSERT NODE T (s: null);""".stripMargin)
    val schema = it.nodes("T").schema
    val withArrays = org.apache.spark.sql.Row(3L, "s3", "t3", -7L, -1.25, false, "u3",
      java.sql.Date.valueOf("1000-01-01"), "00:00:01",
      java.sql.Timestamp.valueOf("1582-10-04 23:59:59"), "[]", Array[Byte](0, 1, -1), "lo",
      Seq(1L, null, 3L), Seq("a", null, ""))
    val table = it.nodes("T").unionByName(
      spark.createDataFrame(java.util.List.of(withArrays), schema))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.orderBy("_id").collect().toSeq
    val want = rowsOf(table)
    assert(want.length === 3)
    val dir = tempDir("graft-types").toString
    val first = Snapshot.snapDir(dir, 1)
    java.nio.file.Files.createDirectories(first)
    java.nio.file.Files.writeString(first.resolve("catalog.json"),
      graft.catalog.CatalogJson.write(it.catalog))
    table.write.parquet(first.resolve("nodes").resolve("T").toString)
    it.nodes("Empty").write.parquet(first.resolve("nodes").resolve("Empty").toString)
    Snapshot.publishMeta(first, Snapshot.Meta(1, 4, Seq("Empty", "T"), Nil))
    def check(booted: Interpreter, what: String): Unit = {
      assert(rowsOf(booted.nodes("T")) === want, what)
      assert(booted.nodes("Empty").count() === 0, what)
      // on the driver: a LocalRelation reads no file
      assert(booted.nodes("T").inputFiles.isEmpty, what)
    }
    for (mode <- Seq("CORRECTED", "LEGACY"))
      withConf("spark.sql.parquet.datetimeRebaseModeInWrite" -> mode,
          "spark.sql.parquet.int96RebaseModeInWrite" -> mode) {
        // the last generation Spark wrote boots onto the driver
        val driver = fresh()
        assert(jobsOf(driver.bootFrom(dir)) === 0, mode)
        check(driver, s"$mode: a Spark-written snapshot booted")
        // the driver writes it again: one file, which Spark reads equal
        assert(jobsOf(driver.compact(dir)) === 0, mode)
        val gen = Snapshot.latest(dir).get._1
        val labels = Snapshot.snapDir(dir, gen).resolve("nodes")
        for (l <- Seq("T", "Empty"))
          assert(snapshotFiles(labels.resolve(l)) === Set("part-00000.parquet"), s"$mode $l")
        assert(rowsOf(spark.read.parquet(labels.resolve("T").toString)) === want, mode)
        assert(spark.read.parquet(labels.resolve("Empty").toString).count() === 0, mode)
        val again = fresh()
        again.bootFrom(dir)
        check(again, s"$mode: a driver-written snapshot booted")
        // budget 0 boots it with Spark's reader and writes it with Spark's writer
        val viaSpark = sparkPath()
        viaSpark.bootFrom(dir)
        assert(viaSpark.nodes("T").inputFiles.nonEmpty, mode)
        assert(rowsOf(viaSpark.nodes("T")) === want, mode)
        viaSpark.compact(dir)
      }
    val last = fresh()
    last.bootFrom(dir)
    check(last, "a LEGACY Spark-written snapshot booted")
  }

  test("compact and bootFrom of an all-driver store run no job; at budget 0 Spark's writer and reader run") {
    import graft.store.Snapshot
    for ((path, make) <- Seq("default" -> (() => fresh()), "budget 0" -> (() => sparkPath()))) {
      val dir = tempDir("graft-nojob").toString
      val it = make()
      val log = graft.store.CommitLog.open(dir)
      it.executeLogged(
        """CREATE NODE P (name: string, n: int);
          |CREATE NODE Q (tag: string);
          |CREATE EDGE E (FROM P ONE, TO Q MANY, PROPS (w: float));""".stripMargin, log)
      for (r <- 1 to 6)
        it.executeLogged(s"INSERT NODE P (name: 'a$r', n: $r); INSERT NODE Q (tag: 't$r');", log)
      it.executeLogged("INSERT EDGE E FROM P (name: 'a1') TO Q (tag: 't2') (w: 0.5);", log)
      val compactJobs = jobsOf { it.compact(dir); () }
      val booted = make()
      val bootJobs = jobsOf { booted.bootFrom(dir); () }
      assert(stateOf(booted, Seq("P", "Q"), Seq("E")) === stateOf(it, Seq("P", "Q"), Seq("E")), path)
      val snap = Snapshot.snapDir(dir, 1)
      val labels = Seq("nodes/P", "nodes/Q", "edges/E").map(snap.resolve)
      val frames = Seq(booted.nodes("P"), booted.nodes("Q"), booted.edges("E"))
      if (path == "default") {
        assert((compactJobs, bootJobs) === ((0, 0)))
        labels.foreach(l => assert(snapshotFiles(l) === Set("part-00000.parquet"), l))
        assert(frames.forall(_.inputFiles.isEmpty))
      } else {
        assert(compactJobs >= labels.size, "Spark's writer runs a job per label")
        labels.foreach(l => assert(snapshotFiles(l).contains("_SUCCESS"), l))
        assert(frames.forall(_.inputFiles.nonEmpty))
      }
    }
  }

  test("a snapshot label whose files fit the budget but whose rows do not boots to Spark; the driver read stops one row past the bound") {
    import graft.store.Snapshot
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graftbridge.DriverParquet
    val dir = tempDir("graft-expand").toString
    val it = fresh()
    it.executeScript("CREATE NODE P (name: string, n: int);" +
      (1 to 1000).map(r => s"INSERT NODE P (name: 'a${r % 10}', n: ${r % 7});").mkString)
    it.compact(dir)
    val path = Snapshot.snapDir(dir, 1).resolve("nodes").resolve("P")
    val files = java.nio.file.Files.walk(path)
    val onDisk = try scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator).asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
      finally files.close()
    // room for the files on disk, not for the rows they hold
    val budget = 2 * onDisk
    assert(1000 * Interpreter.rowBytes(Row(1L, "a1", 1L)) > budget)
    val booted = new Interpreter(spark, budget)
    booted.bootFrom(dir)
    assert(booted.nodes("P").inputFiles.nonEmpty)
    assert(updateJobs(booted, "P") > 0)
    assert(stateOf(booted, Seq("P")) === stateOf(it, Seq("P")))
    // boot reads one row past the most all-null rows the budget holds
    val most = budget / Interpreter.rowBytes(Row(null, null, null))
    assert(most + 1 < 1000)
    assert(DriverParquet.read(spark, it.nodes("P").schema, path, most + 1).size === most + 1)
  }

  test("a driver write that throws mid-compaction leaves the generation unpublished; boot falls back to the previous one and its full log") {
    import graft.store.Snapshot
    val dir = tempDir("graft-crash").toString
    val it = fresh()
    var log = graft.store.CommitLog.open(dir)
    it.executeLogged(
      """CREATE NODE A (s: string);
        |CREATE NODE B (d: date);
        |INSERT NODE A (s: 'a1');
        |INSERT NODE B (d: '2020-01-01');""".stripMargin, log)
    log = it.compact(dir)
    it.executeLogged("INSERT NODE A (s: 'a2'); INSERT NODE B (d: '1500-01-01');", log)
    // Spark's write support refuses an ancient date in EXCEPTION mode:
    // A is written, B throws
    val thrown = intercept[RuntimeException](
      withConf("spark.sql.parquet.datetimeRebaseModeInWrite" -> "EXCEPTION")(it.compact(dir)))
    assert(thrown.getMessage.contains("WRITE_ANCIENT_DATETIME"), thrown.getMessage)
    val partial = Snapshot.snapDir(dir, 2)
    assert(java.nio.file.Files.exists(partial.resolve("nodes").resolve("A").resolve("part-00000.parquet")))
    assert(!java.nio.file.Files.exists(partial.resolve("meta.json")))
    assert(Snapshot.latest(dir).map(_._1) === Some(1L))
    // the live log goes on; boot sweeps the partial and replays it whole
    it.executeLogged("INSERT NODE A (s: 'a3');", log)
    assert(log.entryCount === 3)
    val booted = fresh()
    booted.bootFrom(dir)
    assert(!java.nio.file.Files.exists(partial))
    assert(stateOf(booted, Seq("A", "B")) === stateOf(it, Seq("A", "B")))
    assert(booted.nodes("B").collect().map(_.getDate(1).toString).sorted.toSeq
      === Seq("1500-01-01", "2020-01-01"))
  }

  test("driver rows serve with the catalog's nullability: a WHERE-less UPDATE does not make a later insert's null read 0") {
    val it = fresh()
    it.executeScript(
      """CREATE NODE P (name: string, age: int);
        |INSERT NODE P (name: 'ada', age: 1);
        |UPDATE NODE P SET age: 5;
        |INSERT NODE P (name: 'cyd');""".stripMargin)
    val got = it.executeScript("MATCH P WHERE name: 'cyd';").get.collect()
    assert(got.length === 1)
    assert(got(0).isNullAt(got(0).fieldIndex("age")))
    assert(it.nodes("P").orderBy("_id").collect().map(r =>
      if (r.isNullAt(2)) None else Some(r.getLong(2))).toSeq === Seq(Some(5L), None))
  }

  /** Jobs an UPDATE of `label`'s `name` that matches no row runs: 0
    * while the label's rows are on the driver.
    */
  private def updateJobs(it: Interpreter, label: String): Int = {
    it.nodes(label) // serve a pending batch outside the count
    jobsOf { it.executeScript(s"UPDATE NODE $label SET name: 'z' WHERE name: 'none';"); () }
  }

  test("a label past the byte budget moves to Spark once and ends in the same state") {
    def run(budget: Long): (Map[String, Seq[org.apache.spark.sql.Row]],
        Map[String, Seq[org.apache.spark.sql.Row]]) = {
      val it = new Interpreter(spark, budget)
      val dir = tempDir("graft-budget").toString
      val log = graft.store.CommitLog.open(dir)
      it.executeLogged(
        """CREATE NODE P (name: string, n: int);
          |CREATE EDGE E (FROM P ONE, TO P MANY);""".stripMargin, log)
      for (r <- 1 to 30) it.executeLogged(s"INSERT NODE P (name: 'a$r', n: $r);", log)
      it.executeLogged(
        """INSERT EDGE E FROM P (name: 'a1') TO P (name: 'a2');
          |UPDATE NODE P SET n: 0 WHERE name: 'a2';
          |DELETE NODE P WHERE name: 'a4';""".stripMargin, log)
      val live = it.compact(dir)
      it.executeLogged("INSERT NODE P (name: 'a31'); UPDATE NODE P SET n: 9 WHERE n: 5;", live)
      val booted = new Interpreter(spark, budget)
      booted.bootFrom(dir)
      val state = stateOf(booted, Seq("P"), Seq("E"))
      assert(state === stateOf(it, Seq("P"), Seq("E")))
      if (budget < Interpreter.driverBudget) {
        // P's snapshot file fits the budget, so boot collects it, finds
        // its 29 rows past it, and reads P from Spark
        assert(updateJobs(it, "P") > 0)
        assert(updateJobs(booted, "P") > 0)
      }
      state
    }
    // twenty P rows fit, so P crosses the budget on the batch that
    // follows
    val twentyRows = 20 * Interpreter.rowBytes(org.apache.spark.sql.Row(1L, "a10", 1L))
    assert(run(twentyRows) === run(Interpreter.driverBudget))
  }

  test("the byte budget counts string payloads and is shared by every label") {
    val it = new Interpreter(spark, 4096L)
    it.executeScript(
      """CREATE NODE P (name: string);
        |CREATE NODE Q (name: string);
        |CREATE NODE R (name: string);
        |INSERT NODE P (name: 'a'); INSERT NODE P (name: 'b');""".stripMargin)
    assert(updateJobs(it, "P") === 0)
    // one row of 2000 chars is about 4 KB: past the budget on its own
    it.executeScript(s"INSERT NODE P (name: '${"w" * 2000}');")
    assert(updateJobs(it, "P") > 0)
    // P's rows left the driver, so Q's 1500 chars (about 3 KB) fit; R's
    // as many do not fit beside Q's
    it.executeScript(s"INSERT NODE Q (name: '${"q" * 1500}');")
    assert(updateJobs(it, "Q") === 0)
    it.executeScript(s"INSERT NODE R (name: '${"r" * 1500}');")
    assert(updateJobs(it, "R") > 0)
    assert(updateJobs(it, "Q") === 0)
    assert(Seq("P", "Q", "R").map(it.nodes(_).count()) === Seq(3L, 1L, 1L))
  }

  test("a MATCH or nodes frame is a snapshot: a later INSERT, UPDATE or DELETE leaves it as it was") {
    for ((path, it) <- Seq("budget 0" -> sparkPath(), "default" -> fresh())) {
      it.executeScript(
        """CREATE NODE P (name: string, n: int);
          |INSERT NODE P (name: 'a', n: 1);
          |INSERT NODE P (name: 'b', n: 2);""".stripMargin)
      def names(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getAs[String]("name")).sorted.toSeq
      val frames = Seq(
        "INSERT NODE P (name: 'c', n: 1);",
        "UPDATE NODE P SET name: 'z' WHERE n: 1;",
        "DELETE NODE P WHERE n: 2;").map { stmt =>
        val taken = (it.executeScript("MATCH P WHERE n: 1;").get, it.nodes("P"))
        it.executeScript(stmt)
        it.nodes("P") // serve a buffered INSERT
        taken
      }
      // neither frame is collected before its statement runs
      assert(frames.map { case (m, all) => (names(m), names(all)) } === Seq(
        (Seq("a"), Seq("a", "b")),
        (Seq("a", "c"), Seq("a", "b", "c")),
        (Seq("z", "z"), Seq("b", "z", "z"))), path)
      assert(names(it.nodes("P")) === Seq("z", "z"), path)
    }
  }

  test("an UPDATE's SETs and WHERE all read the row as it was") {
    for ((path, it) <- Seq("budget 0" -> sparkPath(), "default" -> fresh())) {
      it.executeScript(
        """CREATE NODE P (name: string, n: int, m: int);
          |INSERT NODE P (name: 'a', n: 1, m: 1);
          |INSERT NODE P (name: 'b', n: 2, m: 2);
          |UPDATE NODE P SET n: 5, m: 5, name: 'x' WHERE n: 1;""".stripMargin)
      val got = it.nodes("P").orderBy("_id").collect()
        .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"), r.getAs[Long]("m"))).toSeq
      assert(got === Seq(("x", 5L, 5L), ("b", 2L, 2L)), path)
    }
  }

  test("UPDATE rejects a null SET on a NOT NULL field before any state changes") {
    for ((path, it) <- Seq("budget 0" -> sparkPath(), "default" -> fresh())) {
      it.executeScript(
        """CREATE NODE P (name: string NOT NULL, n: int);
          |CREATE EDGE E (FROM P ONE, TO P ONE, PROPS (weight: int NOT NULL, note: string));
          |INSERT NODE P (name: 'a', n: 1);
          |INSERT NODE P (name: 'b', n: 2);
          |INSERT EDGE E FROM P (name: 'a') TO P (name: 'b') (weight: 3);""".stripMargin)
      val e = intercept[ExecError](
        it.executeScript("UPDATE NODE P SET n: 9, name: null WHERE n: 1;"))
      assert(e.getMessage.contains("'name'"), path)
      assertThrows[ExecError](it.executeScript("UPDATE EDGE E SET weight: null;"))
      // nothing changed, and a null on a nullable field still applies
      it.executeScript("UPDATE EDGE E SET note: null;")
      val nodes = it.nodes("P").orderBy("_id").collect()
        .map(r => (r.getAs[String]("name"), r.getAs[Long]("n"))).toSeq
      assert(nodes === Seq(("a", 1L), ("b", 2L)), path)
      assert(it.edges("E").collect().map(_.getAs[Long]("weight")).toSeq === Seq(3L), path)
    }
  }
}
