package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkTestSession
import graft.bank.{BankDays, RefFixture, Seeds, Warehouse}

/** A streaming deployment of the daily cycle: an inbox root (its
  * `transactions/`, `blacklist/` and `terminals/` drop directories), a
  * checkpoint root and a warehouse, drained by [[IngestStream.drain]]. */
final class Inbox(val dir: Path, val checkpoints: Path, val wh: Warehouse) {

  /** Day `d`'s (transactions, blacklist, terminals) paths in the inbox. */
  def dayFiles(d: String): (String, String, String) =
    (dir.resolve(s"transactions/transactions_$d.txt").toString,
      dir.resolve(s"blacklist/passport_blacklist_$d.xlsx").toString,
      dir.resolve(s"terminals/terminals_$d.xlsx").toString)

  /** Copy the committed fixture drops of day `d` (DDMMYYYY) into the
    * inbox, for the given kinds (default: all three). */
  def deliver(d: String, kinds: String*): Unit = {
    val (t, b, m) = dayFiles(d)
    Seq("transactions" -> t, "blacklist" -> b, "terminals" -> m)
      .filter { case (k, _) => kinds.isEmpty || kinds.contains(k) }
      .foreach { case (_, p) =>
        val dst = Paths.get(p)
        Files.createDirectories(dst.getParent)
        Files.copy(RefFixture.drop(dst.getFileName.toString), dst,
          StandardCopyOption.REPLACE_EXISTING)
      }
  }

  def drain(compactAboveFiles: Int = 256, maxFilesPerTrigger: Option[Int] = None,
            failpoint: String => Unit = _ => ()): Long =
    IngestStream.drain(SparkTestSession.spark, dir.toString,
      checkpoints.toString, wh, Inbox.seed, compactAboveFiles,
      maxFilesPerTrigger, failpoint)

  /** The same inbox with a copy of this checkpoint and warehouse: a
    * second deployment at the same point of the stream. */
  def fork(prefix: String): Inbox = {
    val root = Files.createTempDirectory(prefix)
    BankDays.copyDir(checkpoints, root.resolve("cp"))
    BankDays.copyDir(Paths.get(wh.root), root.resolve("wh"))
    new Inbox(dir, root.resolve("cp"),
      new Warehouse(SparkTestSession.spark, root.resolve("wh").toString))
  }
}

object Inbox {
  lazy val seed: Seeds.Seed =
    Seeds.load(SparkTestSession.spark, RefFixture.seedSql)

  def fresh(prefix: String): Inbox = {
    val root = Files.createTempDirectory(prefix)
    new Inbox(root.resolve("inbox"), root.resolve("cp"),
      new Warehouse(SparkTestSession.spark, root.resolve("wh").toString))
  }
}
