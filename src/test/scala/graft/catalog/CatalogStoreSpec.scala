package graft.catalog

import graft.lang.Parser
import org.scalatest.funsuite.AnyFunSuite

class CatalogStoreSpec extends AnyFunSuite with graft.TempDirs {

  private def tmpDir(): String =
    tempDir("graft-cat").toString

  test("snapshot round-trips the full catalog shape") {
    val cat = Parser.parse(
      """CREATE NODE P (id: int PRIMARY KEY, tags: array<string>,
        |  status: enum<'a','b'> DEFAULT 'a', note: text);
        |CREATE NODE Q (id: int);
        |CREATE EDGE E (FROM P MANY, TO Q ONE, PROPS (w: float NOT NULL));""".stripMargin)
      .foldLeft(GraphCatalog.empty)(Ddl.apply)
    val dir = tmpDir()
    val store = new CatalogStore(dir)
    store.snapshot(cat)
    val loaded = store.load()
    assert(loaded === cat)
  }

  test("load replays DDL-log entries newer than the snapshot") {
    val dir = tmpDir()
    val store = new CatalogStore(dir)
    val v1 = Parser.parse("CREATE NODE P (id: int PRIMARY KEY);")
      .foldLeft(GraphCatalog.empty)(Ddl.apply)
    store.snapshot(v1)
    store.logDdl(1, "CREATE NODE P (id: int PRIMARY KEY);") // ≤ snapshot: skipped
    store.logDdl(2, "CREATE NODE Q (name: string);")
    store.logDdl(3, "ALTER NODE Q ADD age: int;")
    val loaded = store.load()
    assert(loaded.version === 3)
    assert(loaded.nodes("Q").field("age").isDefined)
  }

  test("empty store loads the empty catalog") {
    assert(new CatalogStore(tmpDir()).load() === GraphCatalog.empty)
  }

  test("loadAt time-travels to any logged version") {
    val dir = tmpDir()
    val store = new CatalogStore(dir)
    store.logDdl(1, "CREATE NODE P (id: int PRIMARY KEY);")
    store.logDdl(2, "CREATE NODE Q (name: string);")
    store.logDdl(3, "ALTER NODE Q ADD age: int;")
    store.logDdl(4, "DROP NODE P;")
    val at1 = store.loadAt(1)
    assert(at1.version === 1 && at1.nodes.contains("P") && !at1.nodes.contains("Q"))
    val at2 = store.loadAt(2)
    assert(at2.nodes.contains("Q") && at2.nodes("Q").field("age").isEmpty)
    val at3 = store.loadAt(3)
    assert(at3.nodes.contains("P") && at3.nodes("Q").field("age").isDefined)
    // clamps: 0 → empty, past head → head (≡ load with no snapshot)
    assert(store.loadAt(0) === GraphCatalog.empty)
    val head = store.loadAt(99)
    assert(head.version === 4 && !head.nodes.contains("P"))
    assert(head === store.load())
  }

  test("snapshot carries CHECK constraints and INDEX flags (no silent loss on snapshot boot)") {
    // the snapshot path SKIPS DDL-log replay — if the field codec
    // dropped check/index, a snapshot-booted catalog would silently
    // stop enforcing CHECK and lose the scripted layout
    val cat = Parser.parse(
      """CREATE NODE Item (
        |  id: int PRIMARY KEY INDEX,
        |  qty: int CHECK (qty >= 0 AND qty < 4.5),
        |  state: string INDEX CHECK (state != 'void')
        |);""".stripMargin).foldLeft(GraphCatalog.empty)(Ddl.apply)
    val store = new CatalogStore(tmpDir())
    store.snapshot(cat)
    val loaded = store.load()
    assert(loaded === cat)
    val it = loaded.nodes("Item")
    assert(it.field("qty").get.check === Seq(Seq(
      graft.lang.Ast.CheckCmp("qty", graft.lang.Ast.CmpOp.Ge,
        graft.lang.Ast.Literal(graft.lang.Ast.LitKind.Num, "0")),
      graft.lang.Ast.CheckCmp("qty", graft.lang.Ast.CmpOp.Lt,
        graft.lang.Ast.Literal(graft.lang.Ast.LitKind.Num, "4.5")))))
    assert(it.field("id").get.index && it.field("state").get.index)
    assert(it.layout === cat.nodes("Item").layout)
  }
}
