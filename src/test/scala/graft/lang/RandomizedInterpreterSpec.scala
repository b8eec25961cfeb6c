package graft.lang

import graft.SparkSpec
import scala.util.Random

/** Randomized statement sequences applied to BOTH the distributed
  * Interpreter and a trivially-correct driver-side model (a list of
  * maps, the reference's own data structure). Final states must agree —
  * this exercises the insert/update/delete interplay no single spec
  * scenario covers.
  */
class RandomizedInterpreterSpec extends SparkSpec {

  private val names = Vector("ada", "bob", "cyd", "dee", "eli")

  /** Byte budgets to check: every label on Spark, a label that moves to
    * Spark mid-script (about four rows fit), and the default (every
    * label on the driver).
    */
  private val budgets = Seq(
    "0" -> 0L,
    "4 rows" -> 4 * Interpreter.rowBytes(org.apache.spark.sql.Row(1L, "ada", 1L)),
    "default" -> Interpreter.driverBudget)

  test("interpreter state matches a driver-side model over random scripts") {
    for (seed <- 1 to 3; (budget, bytes) <- budgets) {
      val rnd = new Random(seed)
      val it = new Interpreter(spark, bytes)
      it.executeScript("CREATE NODE P (name: string, age: int);")
      var model = Vector.empty[(String, Option[Long])]

      (1 to 30).foreach { _ =>
        rnd.nextInt(20) match {
          case i if i < 9 => // insert (age sometimes absent)
            val n = names(rnd.nextInt(names.size))
            if (rnd.nextBoolean()) {
              val a = rnd.nextInt(90).toLong
              it.executeScript(s"INSERT NODE P (name: '$n', age: $a);")
              model :+= (n, Some(a))
            } else {
              it.executeScript(s"INSERT NODE P (name: '$n');")
              model :+= (n, None)
            }
          case i if i < 14 => // update age by name
            val n = names(rnd.nextInt(names.size))
            val a = rnd.nextInt(90).toLong
            it.executeScript(s"UPDATE NODE P SET age: $a WHERE name: '$n';")
            model = model.map { case (mn, ma) => if (mn == n) (mn, Some(a)) else (mn, ma) }
          case i if i < 18 => // delete by name
            val n = names(rnd.nextInt(names.size))
            it.executeScript(s"DELETE NODE P WHERE name: '$n';")
            model = model.filterNot(_._1 == n)
          case 18 => // WHERE-less update hits every row
            val a = rnd.nextInt(90).toLong
            it.executeScript(s"UPDATE NODE P SET age: $a;")
            model = model.map { case (mn, _) => (mn, Some(a)) }
          case _ => // WHERE-less delete clears the label
            it.executeScript("DELETE NODE P;")
            model = Vector.empty
        }
      }

      val got = it.nodes("P").collect()
        .map(r => (r.getAs[String]("name"),
          if (r.isNullAt(r.fieldIndex("age"))) None else Some(r.getAs[Long]("age"))))
        .sorted.toSeq
      assert(got === model.sorted, s"seed=$seed budget=$budget")
    }
  }

  /** Field domains of the typed script: small, so WHERE clauses match,
    * and each with null. Values are written as the script spells them.
    */
  private val domains = Vector(
    "name" -> Vector("'ada'", "'bob'", "'cyd'", "null"),
    "age" -> Vector("1", "2", "3", "null"),
    "score" -> Vector("0.5", "1.5", "null"),
    "ok" -> Vector("true", "false", "null"),
    "born" -> Vector("'2020-01-01'", "'2021-06-30'", "null"))

  test("typed and null WHERE and SET agree with the model at every MATCH") {
    for (seed <- 1 to 3; (budget, bytes) <- budgets) {
      val rnd = new Random(seed)
      def pick[A](xs: Vector[A]): A = xs(rnd.nextInt(xs.size))
      /** One to `most` distinct fields, each with a value from its domain. */
      def props(most: Int): Vector[(String, String)] =
        rnd.shuffle(domains).take(1 + rnd.nextInt(most)).map { case (f, vs) => f -> pick(vs) }
      def render(ps: Seq[(String, String)]) = ps.map { case (f, v) => s"$f: $v" }.mkString(", ")

      val it = new Interpreter(spark, bytes)
      it.executeScript(
        "CREATE NODE P (name: string, age: int, score: float, ok: bool, born: date);")
      // the model: id -> field -> value as the script spells it
      var model = Vector.empty[(Long, Map[String, String])]
      var nextId = 1L
      def matches(row: Map[String, String], where: Seq[(String, String)]) =
        where.forall { case (f, v) => row(f) == v }

      (1 to 40).foreach { step =>
        rnd.nextInt(10) match {
          case i if i < 4 => // insert; an absent field is null
            val ps = props(domains.size)
            it.executeScript(s"INSERT NODE P (${render(ps)});")
            model :+= nextId -> domains.map { case (f, _) => f -> ps.toMap.getOrElse(f, "null") }.toMap
            nextId += 1
          case i if i < 6 => // update one or two fields, WHERE may name them too
            val set = props(2)
            val where = props(2)
            it.executeScript(s"UPDATE NODE P SET ${render(set)} WHERE ${render(where)};")
            model = model.map { case (id, row) =>
              id -> (if (matches(row, where)) row ++ set else row)
            }
          case 6 =>
            val where = props(2)
            it.executeScript(s"DELETE NODE P WHERE ${render(where)};")
            model = model.filterNot { case (_, row) => matches(row, where) }
          case _ => // every MATCH result is checked, with and without RETURN
            val where = props(2)
            val ret = if (rnd.nextBoolean()) Nil else rnd.shuffle(domains.map(_._1)).take(2)
            val stmt = s"MATCH P WHERE ${render(where)}" +
              (if (ret.isEmpty) ";" else s" RETURN ${ret.mkString(", ")};")
            val df = it.executeScript(stmt).get
            val cols = if (ret.isEmpty) "_id" +: domains.map(_._1) else ret
            assert(df.columns.toSeq === cols, s"seed=$seed budget=$budget step=$step $stmt")
            val got = df.collect().map(r => cols.indices.map(i => spelled(r.get(i))).mkString("|"))
              .sorted.toSeq
            val want = model.collect { case (id, row) if matches(row, where) =>
              cols.map(c => if (c == "_id") id.toString else row(c)).mkString("|")
            }.sorted
            assert(got === want, s"seed=$seed budget=$budget step=$step $stmt")
        }
      }
    }
  }

  /** A collected value as the typed script spells it. */
  private def spelled(v: Any): String = v match {
    case null => "null"
    case s: String => s"'$s'"
    case d: java.sql.Date => s"'$d'"
    case other => other.toString
  }
}
