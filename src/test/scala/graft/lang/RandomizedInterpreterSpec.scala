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
}
