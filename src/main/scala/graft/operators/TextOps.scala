package graft.operators

import graft.QueryDsl._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines over `documents`:
  * language ID (stopword n-gram heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and document fingerprinting.
  *
  * All pure column expressions (codegen'd, shuffle-free per-row work) so the
  * scan parallelism is the only scale knob — at 100 TB these run as a single
  * narrow stage over the parquet splits.
  */
object TextOps {

  /** lowercased, whitespace-collapsed text */
  private def norm(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")
  private val sqlNorm = "REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')"

  /** # of occurrences of `pat` in ' '+norm+' ' via the length-delta trick
    * (portable across engines, exact integer arithmetic). */
  private def cnt(padded: Column, pat: String): Column =
    ((length(padded) - length(replace(padded, lit(pat), lit("")))) / pat.length)
      .cast(IntegerType)
  private def sqlCnt(padded: String, pat: String): String =
    s"CAST((LENGTH($padded) - LENGTH(REPLACE($padded, '$pat', ''))) / ${pat.length} AS INT)"

  val queries: Map[String, Q] = Map(
    "t01_lang_id" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val padded = concat(lit(" "), norm(col("text")), lit(" "))
      val (en, es, de, fr) =
        (cnt(padded, " the "), cnt(padded, " el "), cnt(padded, " der "), cnt(padded, " le "))
      d.select(col("doc_id"), col("lang"),
          en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
            col("s_en") >= col("s_fr"), "en")
            .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_de") >= col("s_fr"), "de")
            .otherwise("fr"))
        .withColumn("correct", col("predicted") === col("lang"))
        .orderBy("doc_id")
    },

    "t02_quality_score" -> { (s, dir) =>
      val d = t(s, dir, "documents")
      val nc = norm(col("text"))
      val padded = concat(lit(" "), nc, lit(" "))
      val nWords = (length(nc) - length(replace(nc, lit(" "), lit(""))) + 1)
        .cast(IntegerType)
      val nStop = cnt(padded, " the ") + cnt(padded, " a ") + cnt(padded, " of ")
      d.select(col("doc_id"),
          length(col("text")).as("n_chars_actual"),
          nWords.as("n_words"),
          (length(replace(nc, lit(" "), lit(""))) / nWords).as("avg_word_len"),
          (nStop / nWords).as("stop_ratio"),
          (least(nWords / lit(20.0), lit(1.0)) *
            (lit(1.0) - least(nStop / nWords, lit(1.0)))).as("quality"))
        .orderBy("doc_id")
    },

    "t03_token_count" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    },

    // Deterministic train/test split — hash-based assignment is the only
    // split that is reproducible, cluster-order-independent, and stable
    // under re-partitioning at 100 TB (never use rand()). The md5-prefix
    // threshold is engine-portable, so the split itself is oracle-checked.
    "t05_train_test_split" -> { (s, dir) =>
      val bucket = substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 2)
      t(s, dir, "documents")
        .withColumn("split", when(bucket < "cd", "train").otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("lang", "split")
    },

    // Stratified sampling by language (training-data rebalancing):
    // deterministic via the same hash-bucket device, one rate per stratum.
    "t06_stratified_sample" -> { (s, dir) =>
      // per-stratum keep rate via hash-prefix threshold: 'cc'~80%,
      // '66'~40%, '33'~20% of the uniform md5 space
      val prefix = substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 2)
      val threshold = when(col("lang") === "en", "cc")
        .when(col("lang") === "zh", "66").otherwise("33")
      t(s, dir, "documents")
        .filter(prefix < threshold)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_id"))
        .orderBy("lang")
    },

    // sorted_fp via the native kernel (one JVM pass: slice, sort by byte
    // order, join, md5) — replaces split->array_sort->concat_ws->md5 which
    // allocated and sorted a fresh UTF8String array per document (was 26%
    // of the whole sf0.1 bench).
    "t04_fingerprint" -> { (s, dir) =>
      val nc = norm(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(nc.cast(BinaryType)).as("fp"),
          expr("sorted_fingerprint(regexp_replace(lower(trim(text)), '\\\\s+', ' '))")
            .as("sorted_fp"))
        .orderBy("doc_id")
    },

    // PII detection + redaction — regex scrub, the standard pre-training
    // hygiene pass. Pure per-row expressions (codegen'd, shuffle-free).
    // The fixtures carry no PII, so each doc is first augmented with a
    // DETERMINISTIC synthetic email+phone derived from doc_id (same
    // construction on the oracle side); the redacted text is surfaced as a
    // fingerprint so the compare is value-exact without megabyte cells.
    // Regexes stay in the Java-regex/RE2 common subset.
    "t07_pii_redact" -> { (s, dir) =>
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast(StringType),
        lit("@mail.example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      val redacted = regexp_replace(
        regexp_replace(aug, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(aug, lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(aug, lit(phoneRe), lit(0))).as("n_phones"),
          md5(redacted.cast(BinaryType)).as("redacted_fp"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination — flag corpus docs sharing any 5-token
    // shingle with a held-out eval set (here: doc_id % 29 = 0). Scale
    // shape: the eval side is tiny by construction, so its shingles are
    // BROADCAST and the corpus side streams through a map-side hash join —
    // no shuffle of the 100 TB corpus; this is how n-gram decontamination
    // runs in production pipelines.
    "t08_decontaminate" -> { (s, dir) =>
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), split(norm(col("text")), " ").as("w"))
        .select(col("doc_id"), explode(array_distinct(transform(
          sequence(lit(1), greatest(size(col("w")) - 4, lit(1))),
          i => concat_ws(" ", slice(col("w"), i, lit(5)))))).as("shingle"))
      val evalSh = sh.filter(col("doc_id") % 29 === 0)
        .select(col("shingle"), col("doc_id").as("eval_id"))
      sh.filter(col("doc_id") % 29 =!= 0)
        .join(broadcast(evalSh), "shingle")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
          countDistinct(col("shingle")).as("n_shingles"))
        .orderBy("doc_id")
    },

    // Repetition-based quality signals (Gopher-style): duplicate-word
    // fraction and the fraction of bigram occurrences taken by the single
    // most frequent bigram. The bigram stats are computed DISTRIBUTED
    // (explode -> count per (doc, bigram) -> max/sum per doc): two narrow
    // shuffles keyed by doc_id, no per-row quadratic expression work.
    "t09_repetition" -> { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), split(norm(col("text")), " ").as("w"))
      val base = d.select(col("doc_id"), size(col("w")).as("n_words"),
        round(lit(1.0) -
          size(array_distinct(col("w"))).cast(DoubleType) / size(col("w")), 6)
          .as("dup_word_frac"))
      val top = d.select(col("doc_id"), explode(transform(
          sequence(lit(1), greatest(size(col("w")) - 1, lit(1))),
          i => concat_ws(" ", slice(col("w"), i, lit(2))))).as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(round(max(col("n")).cast(DoubleType) / sum(col("n")), 6)
          .as("top_bigram_frac"))
      base.join(top, "doc_id").orderBy("doc_id")
    },

    // Sequence packing for training batches: next-fit packing of documents
    // into fixed 512-token sequences, per shard. Packing is inherently
    // sequential per output stream, so the scalable shape is many
    // independent streams: shard = doc_id % 8 here (the shard count is the
    // parallelism knob — thousands at 100 TB), one `flatMapGroups` group
    // per shard, each holding only its own shard's (id, token-count) pairs
    // — never document text — in memory. Token count = whitespace tokens
    // (t03's cheap tokenizer).
    "t10_sequence_pack" -> { (s, dir) =>
      import s.implicits._
      val budget = 512L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        .as[(Long, Long, Long)]
      docs.groupByKey(_._2)
        .flatMapGroups { (shard, it) =>
          val sorted = it.toArray.sortBy(_._1)
          var seq = 0L; var fill = -1L
          sorted.iterator.map { case (id, _, n) =>
            if (fill < 0) fill = n
            else if (fill + n > budget) { seq += 1; fill = n }
            else fill += n
            (id, shard, seq, n)
          }
        }
        .toDF("doc_id", "shard", "seq_id", "n_tokens")
        .orderBy("doc_id")
    },

    // Corpus-unigram log-probability scoring (the CCNet-style quality
    // filter shape: score each document under a LM trained on the corpus
    // itself; gibberish and boilerplate score far from the typical band).
    // Two passes, both combinable hash aggs keyed by word: (1) global
    // unigram counts — vocabulary-sized, tiny relative to the corpus, so
    // AQE broadcasts it into (2) the per-word join that averages
    // -ln p(word) per document. No driver state; at 100 TB the only wide
    // stage is keyed on the word.
    "t11_unigram_logprob" -> { (s, dir) =>
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(norm(col("text")), " ")).as("w"))
      val total = t(s, dir, "documents")
        .select(sum(size(split(norm(col("text")), " "))).as("n"))
      val freq = words.groupBy("w").agg(count(lit(1)).as("cnt"))
      words.join(freq, "w")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          round(avg(-log(col("cnt").cast(DoubleType) / col("n"))), 6)
            .as("mean_neg_logp"))
        .orderBy("doc_id")
    })

  val oracles: Map[String, String] = {
    val padded = s"' ' || $sqlNorm || ' '"
    Map(
      "t01_lang_id" -> s"""
        WITH scored AS (
          SELECT doc_id, lang,
            ${sqlCnt(padded, " the ")} AS s_en,
            ${sqlCnt(padded, " el ")} AS s_es,
            ${sqlCnt(padded, " der ")} AS s_de,
            ${sqlCnt(padded, " le ")} AS s_fr
          FROM documents)
        SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
          CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
               WHEN s_de >= s_fr THEN 'de'
               ELSE 'fr' END AS predicted,
          (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
               WHEN s_de >= s_fr THEN 'de'
               ELSE 'fr' END) = lang AS correct
        FROM scored ORDER BY doc_id""",

      "t02_quality_score" -> s"""
        WITH base AS (
          SELECT doc_id, text, $sqlNorm AS nc,
            CAST(LENGTH($sqlNorm) - LENGTH(REPLACE($sqlNorm, ' ', '')) + 1 AS INT) AS n_words,
            ${sqlCnt(padded, " the ")} + ${sqlCnt(padded, " a ")} + ${sqlCnt(padded, " of ")} AS n_stop
          FROM documents)
        SELECT doc_id,
          CAST(LENGTH(text) AS INT) AS n_chars_actual,
          n_words,
          LENGTH(REPLACE(nc, ' ', '')) / n_words AS avg_word_len,
          n_stop / n_words AS stop_ratio,
          LEAST(n_words / 20.0, 1.0) * (1.0 - LEAST(n_stop / n_words, 1.0)) AS quality
        FROM base ORDER BY doc_id""",

      "t03_token_count" -> """
        SELECT doc_id,
          CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS INT) AS ws_tokens,
          CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT)
            AS bpe_tokens,
          CAST(LENGTH(text) AS INT) AS n_chars
        FROM documents ORDER BY doc_id""",

      "t05_train_test_split" -> """
        SELECT lang,
          CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
               THEN 'train' ELSE 'test' END AS split,
          COUNT(*) AS n, CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM documents
        GROUP BY lang, split
        ORDER BY lang, split""",

      "t06_stratified_sample" -> """
        SELECT lang, COUNT(*) AS n_sampled, CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM documents
        WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) <
              (CASE WHEN lang = 'en' THEN 'cc'
                    WHEN lang = 'zh' THEN '66' ELSE '33' END)
        GROUP BY lang
        ORDER BY lang""",

      "t04_fingerprint" -> s"""
        SELECT doc_id,
          MD5($sqlNorm) AS fp,
          MD5(ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT($sqlNorm, ' ')), ' ')) AS sorted_fp
        FROM documents ORDER BY doc_id""",

      "t07_pii_redact" -> {
        val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail.example.com or +1-555-' || " +
          "LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\+1-555-[0-9]{4}"
        s"""
        SELECT doc_id,
          CAST(LEN(REGEXP_EXTRACT_ALL($aug, '$emailRe')) AS INT) AS n_emails,
          CAST(LEN(REGEXP_EXTRACT_ALL($aug, '$phoneRe')) AS INT) AS n_phones,
          MD5(REGEXP_REPLACE(REGEXP_REPLACE($aug, '$emailRe', '<EMAIL>', 'g'),
              '$phoneRe', '<PHONE>', 'g')) AS redacted_fp
        FROM documents ORDER BY doc_id"""
      },

      "t08_decontaminate" -> s"""
        WITH d AS (
          SELECT doc_id, STRING_SPLIT($sqlNorm, ' ') AS w FROM documents),
        sh AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
            GENERATE_SERIES(1, GREATEST(LEN(w) - 4, 1)),
            i -> ARRAY_TO_STRING(w[i:i+4], ' ')))) AS shingle
          FROM d)
        SELECT c.doc_id AS doc_id,
          COUNT(DISTINCT e.doc_id) AS n_eval_docs,
          COUNT(DISTINCT c.shingle) AS n_shingles
        FROM sh c JOIN sh e ON c.shingle = e.shingle
        WHERE e.doc_id % 29 = 0 AND c.doc_id % 29 <> 0
        GROUP BY c.doc_id ORDER BY doc_id""",

      "t09_repetition" -> s"""
        WITH d AS (
          SELECT doc_id, STRING_SPLIT($sqlNorm, ' ') AS w FROM documents),
        bg AS (
          SELECT doc_id, UNNEST(LIST_TRANSFORM(
            GENERATE_SERIES(1, GREATEST(LEN(w) - 1, 1)),
            i -> ARRAY_TO_STRING(w[i:i+1], ' '))) AS bigram
          FROM d),
        c AS (
          SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY doc_id, bigram),
        top AS (
          SELECT doc_id, ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 6)
            AS top_bigram_frac
          FROM c GROUP BY doc_id)
        SELECT d.doc_id AS doc_id,
          CAST(LEN(w) AS INT) AS n_words,
          ROUND(1.0 - CAST(LEN(LIST_DISTINCT(w)) AS DOUBLE) / LEN(w), 6)
            AS dup_word_frac,
          top.top_bigram_frac
        FROM d JOIN top ON d.doc_id = top.doc_id
        ORDER BY doc_id""",

      // Per-shard next-fit replayed row by row with a recursive CTE.
      "t10_sequence_pack" -> """
        WITH RECURSIVE docs AS (
          SELECT doc_id, doc_id % 8 AS shard,
            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
            ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
          FROM documents),
        pack AS (
          SELECT shard, rn, doc_id, n_tokens,
            CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
          FROM docs WHERE rn = 1
          UNION ALL
          SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
            CASE WHEN p.fill + d.n_tokens > 512 THEN p.seq_id + 1
                 ELSE p.seq_id END,
            CASE WHEN p.fill + d.n_tokens > 512 THEN d.n_tokens
                 ELSE p.fill + d.n_tokens END
          FROM docs d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1)
        SELECT doc_id, shard, seq_id, n_tokens FROM pack ORDER BY doc_id""",

      "t11_unigram_logprob" -> s"""
        WITH words AS (
          SELECT doc_id, UNNEST(STRING_SPLIT($sqlNorm, ' ')) AS w
          FROM documents),
        total AS (SELECT COUNT(*) AS n FROM words),
        freq AS (SELECT w, COUNT(*) AS cnt FROM words GROUP BY w)
        SELECT words.doc_id, COUNT(*) AS n_words,
          ROUND(AVG(-LN(CAST(freq.cnt AS DOUBLE) / total.n)), 6)
            AS mean_neg_logp
        FROM words JOIN freq USING (w) CROSS JOIN total
        GROUP BY words.doc_id ORDER BY words.doc_id""")
  }
}
