package graft.bank

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The committed reference-shaped 3-day fixture
  * (`src/test/resources/bank-fixture`, FIXTURES.md A6): `ddl_dml.sql` at
  * its root and the nine daily drops (transactions, blacklist, terminals
  * for 01–03.03.2021) under `data/`. The files are the unchanged output
  * of `perfbench/gen.py`'s `generate(out, 0.1, 3, 1)`; every figure a
  * spec asserts on them comes from the DuckDB replica
  * (`tools/golden_reference.py`), not from the code under test.
  *
  * `day4/` holds the fourth day of `generate(out, 0.1, 4, 1)` (whose days
  * 1–3 and seed file are byte-identical to the above): the first day on
  * which the full rescan re-reports earlier rule-1/2 hits. It sits beside
  * `data/` so the specs that glob `data/` keep their three days; a replay
  * opts in through [[drop]].
  *
  * Resolved through the test classpath, so the working directory does
  * not matter.
  */
object RefFixture {
  private lazy val root: Path = {
    val url = Option(getClass.getResource("/bank-fixture/ddl_dml.sql"))
      .getOrElse(throw new IllegalStateException(
        "bank-fixture/ddl_dml.sql is not on the test classpath"))
    Paths.get(url.toURI).getParent
  }

  lazy val dataDir: String = root.resolve("data").toString
  lazy val seedSql: String = root.resolve("ddl_dml.sql").toString
  val days: Seq[String] = Seq("01032021", "02032021", "03032021")
  val day4: String = "04032021"

  /** The committed drop file `name`: day 4's under `day4/`, the others
    * under `data/`. */
  def drop(name: String): Path =
    if (name.contains(day4)) root.resolve("day4").resolve(name)
    else Paths.get(dataDir, name)

  /** The batch replay: each day's drops are copied into `work/inbox`
    * (runDay archives its inputs to `work/archive`) and run through
    * `new Pipeline(wh, seed)` in day order; `afterDay(i)` runs after
    * day `i`. */
  def replay(wh: Warehouse, seed: Seeds.Seed, work: Path,
             afterDay: Int => Unit = _ => ()): Unit = {
    val inbox = Files.createDirectories(work.resolve("inbox"))
    val pipe = new Pipeline(wh, seed)
    days.zipWithIndex.foreach { case (d, i) =>
      val Seq(txns, blacklist, terminals) = Seq(s"transactions_$d.txt",
          s"passport_blacklist_$d.xlsx", s"terminals_$d.xlsx").map(n =>
        Files.copy(Paths.get(dataDir, n), inbox.resolve(n),
          StandardCopyOption.REPLACE_EXISTING).toString)
      pipe.runDay(txns, blacklist, terminals, work.resolve("archive").toString)
      afterDay(i)
    }
  }
}
