package graft.bank

import java.sql.Date

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType, StructType}

/** Loader for the reference's pre-seeded "Oracle-sourced" master tables
  * (cards / accounts / clients) from its `data/ddl_dml.sql` single-row
  * INSERT statements (`ddl_dml.sql:7-12,606-612,776-787`). Data-only
  * ingestion of a public fixture — the DDL itself is re-declared in
  * [[Schemas]]. The masters are local relations: they are read once,
  * and a plan over them carries their rows instead of a scan.
  */
object Seeds {

  final case class Seed(cards: DataFrame, accounts: DataFrame, clients: DataFrame) {

    /** J6 resolved once (`loading_rep_fraud.py`'s cards → accounts →
      * clients inner joins): one row per (card, account, client) match,
      * numbered by `j6_row`, with the columns the fraud rules read and
      * the client's `fio`, as a local relation. The masters never change
      * during a run, so each rule broadcasts these rows instead of
      * planning the chain of three joins again every day. */
    lazy val cardClients: DataFrame = {
      val joined = cards.select("card_num", "account")
        .join(accounts.select("account", "valid_to", "client"), Seq("account"))
        .join(clients, col("client") === col("client_id"))
        .select(col("card_num"), col("valid_to"), col("passport_num"),
          col("passport_valid_to"),
          concat(col("last_name"), lit(" "), col("first_name"), lit(" "),
            coalesce(col("patronymic"), lit(""))).as("fio"),
          col("phone"))
      cards.sparkSession.createDataFrame(joined.collect().toSeq.zipWithIndex
        .map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }.asJava,
        joined.schema.add("j6_row", IntegerType, nullable = false))
    }
  }

  def load(spark: SparkSession, ddlDmlPath: String): Seed = {
    val src = Source.fromFile(ddlDmlPath, "UTF-8")
    val sql = try src.mkString finally src.close()
    val stmts = parseInserts(sql)
    def table(name: String, schema: StructType): DataFrame = {
      val rows = stmts.filter(_._1.equalsIgnoreCase(name)).map { case (_, cols, vals) =>
        require(cols.size == vals.size, s"$name: ${cols.size} cols vs ${vals.size} vals")
        val byName = cols.map(_.toLowerCase).zip(vals).toMap
        Row.fromSeq(schema.fields.toSeq.map { f =>
          byName.getOrElse(f.name, None.orNull) match {
            case null => null
            case s: String if f.dataType == DateType => Date.valueOf(s.trim)
            case s: String => s
          }
        })
      }
      spark.createDataFrame(rows.asJava, schema)
    }
    Seed(
      cards = table("cards", Schemas.cards),
      accounts = table("accounts", Schemas.accounts),
      clients = table("clients", Schemas.clients))
  }

  /** Parse `insert into T (c1, c2) values ('a', null, ...);` statements.
    * Values are single-quoted strings or the bare word null; quotes have
    * no escaping in the fixture. */
  private[bank] def parseInserts(sql: String): Seq[(String, Seq[String], Seq[String])] = {
    val insertRe =
      """(?is)insert\s+into\s+(\w+)\s*\(([^)]*)\)\s*values\s*\((.*?)\)\s*;""".r
    insertRe.findAllMatchIn(sql).map { m =>
      val table = m.group(1)
      val cols = m.group(2).split(",").map(_.trim).toSeq
      (table, cols, splitValues(m.group(3)))
    }.toSeq
  }

  /** Split a VALUES tuple on top-level commas, honoring single quotes
    * (quoted content keeps its spaces — card numbers contain them);
    * returns null for the bare `null` keyword. */
  private def splitValues(s: String): Seq[String] = {
    final case class Val(text: StringBuilder = new StringBuilder,
                         var quoted: Boolean = false)
    val out = ArrayBuffer(Val())
    var inQuote = false
    for (c <- s) {
      if (inQuote) {
        if (c == '\'') inQuote = false else out.last.text.append(c)
      } else c match {
        case '\'' => inQuote = true; out.last.quoted = true
        case ',' => out += Val()
        case other => out.last.text.append(other)
      }
    }
    out.toSeq.map { v =>
      // whitespace outside the quotes (indentation padding) is not content
      if (v.quoted) v.text.toString.trim
      else if (v.text.toString.trim.equalsIgnoreCase("null")) null
      else v.text.toString.trim
    }
  }
}
