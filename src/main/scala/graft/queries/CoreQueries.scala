package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.MessageJson
import graft.ops.Moderation

/** SURVEY.md §2 parity operators as named, DuckDB-oracle-checked queries
  * over the driver parquet tables. The reference's message topic maps to
  * `documents` (sender := source, receiver := lang, text := text); its
  * blocked-users GlobalKTable maps to a dimension derived
  * deterministically from the same data (pairs where n_chars % 7 = 0);
  * its forbidden-words table maps to a fixed in-vocabulary word list.
  */
object CoreQueries {

  /** Forbidden words (all in the documents vocabulary); value="ban" U3
    * filtering is exercised in ModerationSpec with an explicit table.
    */
  val banWords: Seq[String] = Seq("spark", "join", "window", "fast")

  private def mask(w: String) = "*" * w.length

  /** Escape a ban word for literal matching inside a DuckDB (RE2)
    * regex, mirroring the Spark side's `Pattern.quote`: every regex
    * metachar gets a backslash (DuckDB single-quoted strings pass
    * backslashes through to the regex engine untouched), and embedded
    * single quotes are doubled for the SQL literal. Without this a
    * future word like "c++" would silently diverge the ORACLE (the
    * engine side already quotes) rather than the engine.
    */
  private[graft] def reQuote(w: String): String =
    w.flatMap {
      case '\'' => "''"
      case c if "\\.^$|?*+()[]{}-".indexOf(c) >= 0 => "\\" + c
      case c => c.toString
    }

  /** Nested DuckDB regexp_replace equivalent of the sequential censor
    * fold (innermost = first word, matching foldLeft order). 'gi' =
    * global + case-insensitive, mirroring Java's `(?i)` + replaceAll.
    */
  private[graft] def duckCensor(expr: String, words: Seq[String] = banWords): String =
    words.foldLeft(expr) { (e, w) =>
      s"regexp_replace($e, '${reQuote(w)}', '${mask(w)}', 'gi')"
    }

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Messages view over documents: sender/receiver/text. */
  private def messages(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"), col("source").as("sender"),
      col("lang").as("receiver"), col("text"))

  /** Derived blocked-pairs dimension: `receiver:sender` keys. */
  private def blockedPairs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("n_chars") % 7 === 0)
      .select(Moderation.blockedKey(col("lang"), col("source")))

  private val blockedPairsSql =
    "SELECT DISTINCT (lang || ':' || source) AS bk FROM documents WHERE n_chars % 7 = 0"

  def all: Seq[Q] = Seq(

    // S1-ish: columnar scan with projection + predicate (both pushed to parquet)
    Q("source_scan",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P4-ish: arithmetic projection (per-row double math is engine-exact)
    Q("projection",
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS disc_price,
        |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax"))).as("charge"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // P2-ish: compound predicate filter
    Q("filter_compound",
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice BETWEEN 1000 AND 150000
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F"
          && col("o_totalprice").between(1000, 150000)
          && col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },

    // P3: derived join key `receiver:sender` (KafkaStreamApp.java:158)
    Q("derived_key_concat",
      """SELECT doc_id, (lang || ':' || source) AS pair_key
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          Moderation.blockedKey(col("lang"), col("source")).as("pair_key"))
        .orderBy("doc_id")
    },

    // J1 production form: the derived key probed in a broadcast key set
    Q("anti_join_blocked",
      s"""SELECT doc_id, source AS sender, lang AS receiver
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM ($blockedPairsSql) b
         |                  WHERE b.bk = (d.lang || ':' || d.source))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Moderation.dropBlocked(messages(s, dir), blockedPairs(s, dir))
        .select("doc_id", "sender", "receiver")
        .orderBy("doc_id")
    },

    // J1 literal two-step reference form: left_outer + IS NULL filter
    Q("left_outer_null_probe",
      s"""SELECT doc_id, source AS sender, lang AS receiver
         |FROM documents d
         |LEFT OUTER JOIN ($blockedPairsSql) b ON b.bk = (d.lang || ':' || d.source)
         |WHERE b.bk IS NULL
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Moderation.dropBlockedTwoStep(messages(s, dir), blockedPairs(s, dir))
        .select("doc_id", "sender", "receiver")
        .orderBy("doc_id")
    },

    // complement of J1: LEFT SEMI (EXISTS)
    Q("semi_join_blocked",
      s"""SELECT doc_id, source AS sender, lang AS receiver
         |FROM documents d
         |WHERE EXISTS (SELECT 1 FROM ($blockedPairsSql) b
         |              WHERE b.bk = (d.lang || ':' || d.source))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val m = messages(s, dir)
      val keys = blockedPairs(s, dir).toDF("bk")
      m.join(broadcast(keys),
          Moderation.blockedKey(m("receiver"), m("sender")) === col("bk"), "left_semi")
        .select("doc_id", "sender", "receiver")
        .orderBy("doc_id")
    },

    // U3+U4+U5: sequential censor fold (reference semantics)
    Q("censor_fold",
      s"""SELECT doc_id, ${duckCensor("text")} AS text
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), Moderation.censorFold(col("text"), banWords).as("text"))
        .orderBy("doc_id")
    },

    // F2: JSON decode (schema-on-read from events.props)
    Q("json_decode",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // JSON parsing is the per-row cost and runs before the sort
      // exchange — parallelize the narrow (event_id, props) projection
      Tables.parallelize(
          Tables.load(s, dir, "events").select("event_id", "props"))
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    },

    // F1: JSON encode of the Message shape, by the encoder encodeKafka
    // writes the wire with
    Q("json_encode",
      """SELECT doc_id,
        |  CAST(to_json(struct_pack(text := text, receiver := lang)) AS VARCHAR) AS msg_json
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          MessageJson.encode(col("text"), col("lang")).as("msg_json"))
        .orderBy("doc_id")
    },

    // S2: GlobalKTable compaction — latest value per key
    Q("latest_per_key",
      """SELECT user_id, event_id, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },

    // §3.3 flagship: full moderation pipeline (blocked-pair drop + censor)
    Q("moderation_pipeline",
      s"""SELECT doc_id, source AS sender, lang AS receiver, ${duckCensor("d.text")} AS text
         |FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM ($blockedPairsSql) b
         |                  WHERE b.bk = (d.lang || ':' || d.source))
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Moderation.pipeline(messages(s, dir), blockedPairs(s, dir), banWords)
        .select("doc_id", "sender", "receiver", "text")
        .orderBy("doc_id")
    }
  )
}
