package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact => jcompact, render}

/** Data-WAL snapshot generations — the compaction discipline the
  * catalog store already has (snapshot + bounded replay,
  * CatalogStore.loadAt) extended to the STATEMENT log: the reference
  * server replays the full commit log on boot
  * (/root/reference/server/commitlog.go:162); graft bounds that replay
  * by snapshotting the label tables and rolling the log to a new
  * generation.
  *
  * Layout under the data dir:
  *   snapshot-G/catalog.json      full catalog at compaction time
  *   snapshot-G/nodes/<label>/    parquet, one dir per node label
  *   snapshot-G/edges/<label>/    parquet, one dir per edge label
  *                                (a driver-resident label's dir holds
  *                                one file, part-00000.parquet, and no
  *                                _SUCCESS; a Spark-resident one holds
  *                                Spark's output)
  *   snapshot-G/meta.json         {generation, nextId, nodes, edges}
  *   commit.G.log                 statements appended AFTER snapshot G
  *                                (generation 0 is plain commit.log)
  *
  * Crash safety by write ordering alone (no atomic directory replace
  * exists): meta.json is written LAST via an atomic rename, so a
  * generation without meta.json is invisible to [[latest]]; boot after
  * a crash mid-compaction falls back to the previous complete
  * generation + its full log — never a half state. Old generations are
  * deleted only after the new one is published.
  */
object Snapshot {

  final case class Meta(generation: Long, nextId: Long,
      nodes: Seq[String], edges: Seq[String])

  def snapDir(dataDir: String, gen: Long): Path =
    Paths.get(dataDir).resolve(s"snapshot-$gen")

  def logPath(dataDir: String, gen: Long): Path =
    if (gen == 0L) Paths.get(dataDir).resolve("commit.log")
    else Paths.get(dataDir).resolve(s"commit.$gen.log")

  /** The commit log of generation `gen` (creating the data dir). */
  def openLog(dataDir: String, gen: Long,
      format: CommitLog.Format = CommitLog.Text): CommitLog = {
    Files.createDirectories(Paths.get(dataDir))
    new CommitLog(logPath(dataDir, gen), format)
  }

  /** Highest COMPLETE generation (meta.json present), if any. */
  def latest(dataDir: String): Option[(Long, Meta)] = {
    val root = Paths.get(dataDir)
    if (!Files.isDirectory(root)) None
    else {
      val gens = Files.list(root).iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("snapshot-") &&
          Files.exists(p.resolve("meta.json")))
        .flatMap(p => p.getFileName.toString.stripPrefix("snapshot-").toLongOption)
        .toSeq
      gens.maxOption.map(g => g -> readMeta(snapDir(dataDir, g)))
    }
  }

  def readMeta(dir: Path): Meta = {
    val j = JsonMethods.parse(Files.readString(dir.resolve("meta.json")))
    def strs(field: String): Seq[String] = j \ field match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Nil
    }
    def num(field: String): Long = j \ field match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case _ => throw new IllegalStateException(s"snapshot meta missing $field")
    }
    Meta(num("generation"), num("nextId"), strs("nodes"), strs("edges"))
  }

  /** Publish the generation: meta.json written to a temp name, then
    * atomically renamed — the commit point of the whole snapshot.
    */
  def publishMeta(dir: Path, meta: Meta): Unit = {
    val json = jcompact(render(JObject(
      "generation" -> JLong(meta.generation),
      "nextId" -> JLong(meta.nextId),
      "nodes" -> JArray(meta.nodes.map(JString(_)).toList),
      "edges" -> JArray(meta.edges.map(JString(_)).toList))))
    val tmp = dir.resolve("meta.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve("meta.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Remove all generations (and their logs) strictly older than
    * `keepGen` — called only after `keepGen` is published.
    */
  def dropOlderThan(dataDir: String, keepGen: Long): Unit = {
    val root = Paths.get(dataDir)
    if (Files.isDirectory(root)) {
      Files.list(root).iterator().asScala.toSeq.foreach { p =>
        val name = p.getFileName.toString
        val gen: Option[Long] =
          if (name == "commit.log") Some(0L)
          else if (name.startsWith("snapshot-"))
            name.stripPrefix("snapshot-").toLongOption
          else if (name.startsWith("commit.") && name.endsWith(".log"))
            name.stripPrefix("commit.").stripSuffix(".log").toLongOption
          else None
        gen.filter(_ < keepGen).foreach(_ => deleteRecursively(p))
      }
    }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }

  /** Bounded-retention generation GC. Keeps the newest `keep` PUBLISHED
    * generations, each with its suffix log, and deletes:
    *
    *  - published generations (snapshot dir + log) older than the
    *    retention window — debris of a crash that landed between
    *    publishMeta and dropOlderThan, or of a deployment that raised
    *    retention and later lowered it;
    *  - EVERY unpublished snapshot dir (no meta.json), whatever its
    *    generation number — a crashed compaction attempt's partial.
    *    Always safe in the single-writer model: an unpublished dir is
    *    invisible to [[latest]] and the next compaction deletes-then-
    *    rewrites its target dir from scratch anyway;
    *  - logs of generations above the newest published one with no
    *    published snapshot to anchor them (can only exist if a crash
    *    interleaved log creation with an unpublished snapshot).
    *
    * With no published generation at all, only unpublished partials are
    * swept — the generation-0 log IS the state and always survives.
    * Runs at boot (Interpreter.bootFrom) so crashed-compaction leftovers
    * never accumulate across generations.
    */
  def sweep(dataDir: String, keep: Int = 1): Unit = {
    require(keep >= 1, "retention must keep at least the live generation")
    val root = Paths.get(dataDir)
    if (!Files.isDirectory(root)) return
    val entries = Files.list(root).iterator().asScala.toSeq
    def genOfLog(name: String): Option[Long] =
      if (name == "commit.log") Some(0L)
      else if (name.startsWith("commit.") && name.endsWith(".log"))
        name.stripPrefix("commit.").stripSuffix(".log").toLongOption
      else None
    def genOfSnap(name: String): Option[Long] =
      if (name.startsWith("snapshot-"))
        name.stripPrefix("snapshot-").toLongOption
      else None
    val published = entries.flatMap { p =>
      genOfSnap(p.getFileName.toString)
        .filter(_ => Files.exists(p.resolve("meta.json")))
    }.sorted
    val retained = published.takeRight(keep).toSet
    val newest = published.lastOption
    entries.foreach { p =>
      val name = p.getFileName.toString
      genOfSnap(name) match {
        case Some(g) =>
          val isPublished = Files.exists(p.resolve("meta.json"))
          if (!isPublished || !retained.contains(g)) deleteRecursively(p)
        case None => genOfLog(name) match {
          case Some(g) =>
            val anchored = retained.contains(g) ||
              (g == 0L && published.isEmpty) // pre-compaction plain log
            val orphanAbove = newest.exists(g > _)
            if (!anchored || orphanAbove) deleteRecursively(p)
          case None => () // not ours (foreign file in the data dir)
        }
      }
    }
  }
}
