package graft.operators

import graft.Q
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G2 flagship: the reference engine end-to-end on Spark — scan →
  * normalize → tokenize → n-gram windows → count → global sort
  * (reference/WordCount.java:73-127, run as one job by
  * reference/WordCount.java:129-164).
  *
  * Plan shape at scale: parquet scan (text column only, pruned) →
  * generate/explode → partial hash aggregate (map-side combine, the
  * reference's combiner at WordCount.java:150, automatic here) → hash
  * shuffle on ngram → final aggregate → range-partitioned sort (the
  * reference's WCPartitioner + shuffle sort, WordCount.java:32-62).
  * No driver-side state; every stage is keyed-shuffle parallel.
  */
object TextPipeline {

  /** N-gram counts without the final global sort — for callers that
    * impose their own layout (the [[graft.WordCount]] CLI
    * range-partitions and sorts within partitions; a global ORDER BY
    * first would just be a discarded extra shuffle). */
  def ngramCountUnsorted(docs: DataFrame, textCol: String, n: Int): DataFrame =
    docs
      .select(explode(TextFns.ngrams(col(textCol), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("cnt"))

  /** The reusable operator: globally sorted n-gram frequencies of a
    * string column. */
  def ngramCount(docs: DataFrame, textCol: String, n: Int): DataFrame =
    ngramCountUnsorted(docs, textCol, n).orderBy("ngram")

  /** DuckDB oracle for [[ngramCount]] over `documents.text`.
    * DuckDB list slicing is 1-based and end-inclusive: `t[i:i+n-1]` is an
    * n-token window starting at i; window starts are 1..len-n+1 =
    * range(1, len-n+2). */
  def ngramCountSql(n: Int): String = {
    require(n >= 1)
    if (n == 1)
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\s]+', '', 'g')), '\s+'), t -> len(t) > 0) AS t
        |  FROM documents)
        |SELECT u.tok AS ngram, count(*) AS cnt
        |FROM toks, unnest(t) AS u(tok)
        |GROUP BY ngram ORDER BY ngram""".stripMargin
    else
      s"""WITH toks AS (
         |  SELECT list_filter(string_split_regex(lower(regexp_replace(text, '[^a-zA-Z0-9\\s]+', '', 'g')), '\\s+'), t -> len(t) > 0) AS t
         |  FROM documents),
         |ng AS (
         |  SELECT array_to_string(t[u.i:u.i+${n - 1}], ' ') AS ngram
         |  FROM toks, unnest(range(1, len(t) - ${n - 2})) AS u(i)
         |  WHERE len(t) >= $n)
         |SELECT ngram, count(*) AS cnt FROM ng GROUP BY ngram ORDER BY ngram""".stripMargin
  }

  def all: Seq[Q] = Seq(
    Q("ngram_count", ngramCountSql(3)) { (s, d) =>
      ngramCount(Tables.documents(s, d), "text", 3)
    }.copy(headline = true),
    // the reference's n=1 fast path (WordCount.java:81-84): plain word count
    Q("word_count", ngramCountSql(1)) { (s, d) =>
      ngramCount(Tables.documents(s, d), "text", 1)
    },
    // n=5: the reference's build.sh invocation (reference/build.sh:8)
    Q("ngram5_count", ngramCountSql(5)) { (s, d) =>
      ngramCount(Tables.documents(s, d), "text", 5)
    },
    // n=6: the reference's run.sh invocation (reference/run.sh:4)
    Q("ngram6_count", ngramCountSql(6)) { (s, d) =>
      ngramCount(Tables.documents(s, d), "text", 6)
    },
    // Entry point B (SURVEY.md §3.3): the same flagship through
    // spark.sql over registered views, with the native ngrams
    // expression registered as a SQL function and exploded as a
    // generator — the engine's UDTF surface (G20).
    Q("sql_entry_ngrams", ngramCountSql(2)) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      Q.runSql(s, d, """SELECT ngram, count(*) AS cnt
                     |FROM (SELECT explode(ngrams(text, 2)) AS ngram FROM documents)
                     |GROUP BY ngram ORDER BY ngram""".stripMargin)
    },
    // `n` as a foldable CONSTANT EXPRESSION rather than a bare literal
    // (`1 + 1` folds at resolution) — parity with the reference's
    // CLI-substituted n (reference/WordCount.java:129-136), where the
    // caller-supplied value lands in the SQL text in whatever constant
    // form the templating produced.
    Q("sql_entry_ngrams_fold", ngramCountSql(2)) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      Q.runSql(s, d, """SELECT ngram, count(*) AS cnt
                     |FROM (SELECT explode(ngrams(text, 1 + 1)) AS ngram FROM documents)
                     |GROUP BY ngram ORDER BY ngram""".stripMargin)
    }
  )
}
