package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryHelpers._

/** Text query registry — one domain slice of the SparkEntry suite
  * (split in round 7 so a single-file edit cannot take out the whole
  * 238-query suite). Entries are (name → builder) plus the DuckDB
  * oracle SQL for the driver's cross-engine hash compare; both are
  * merged verbatim into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]].
  */
private[graft] object TextQueries {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // ---- text analysis (additive) ----

    // ---- distinctive terms per source (c-TF-IDF-style integer lift):
    //      the corpus-composition / cluster-labeling analysis — what
    //      vocabulary makes each slice different ----
    "q_stratum_terms" -> ((s, dir) =>
      graft.functions.TextAnalysis.distinctiveTerms(
        Tables.load(s, dir, "documents"), "source", "text",
        minCount = 5L, topK = 5)),

    "q_text_stats" -> ((s, dir) => {
      val cols = graft.functions.TextAnalysis.qualityColumns(col("text"))
        .map { case (n, c) => c.as(n) }
      Tables.load(s, dir, "documents").select(col("doc_id") +: cols: _*)
    }),
    "q_lang_id" -> ((s, dir) => {
      val scores = graft.functions.TextAnalysis.langScores(col("text"))
        .map { case (l, c) => c.cast("long").as(s"s_$l") }
      Tables.load(s, dir, "documents")
        .select((col("doc_id") +: scores) :+
          graft.functions.TextAnalysis.langId(col("text")).as("lang_pred"): _*)
    }),
    // RAG passage chunking: 24-token windows every 12 (50% overlap)
    "q_chunk_passages" -> ((s, dir) =>
      graft.functions.TextAnalysis.chunkPassages(
        Tables.load(s, dir, "documents"), "doc_id", "text", 24, 12)),
    // PII scrub: the synthetic corpus carries no PII, so inject a
    // deterministic payload (IDENTICAL expression in the oracle), then
    // detect + redact — all map-side codegen'd string expressions
    "q_pii_redact" -> ((s, dir) => {
      val id = col("doc_id")
      val pii = concat(col("text"),
        lit(" contact user"), id.cast("string"), lit("@example.com call "),
        lit("415-555-"), lpad(pmod(id, lit(10000)).cast("string"), 4, "0"),
        lit(" ssn 078-05-"), lpad(pmod(id * 7, lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(id, lit(256)).cast("string"), lit("."),
        pmod(id * 3, lit(256)).cast("string"))
      val cnts = graft.functions.Scrub.counts(col("text_pii"))
        .map { case (n, c) => c.cast("long").as(n) }
      Tables.load(s, dir, "documents")
        .withColumn("text_pii", pii)
        .select((id +: cnts) :+
          graft.functions.Scrub.redact(col("text_pii")).as("redacted"): _*)
    }),
    // top-k distinctive terms per doc (tf/df rarity ranking; the
    // ln-based tf-idf variant is TextAnalysis.tfIdf — see SEMANTICS.md
    // on why the oracle surface avoids transcendentals)
    "q_tfidf_topk" -> ((s, dir) =>
      graft.functions.TextAnalysis.topTermsExact(
        Tables.load(s, dir, "documents"), "doc_id", "text", 3)
        .select("doc_id", "token", "tf", "df", "score_micro", "rank")),

    // Gopher-style repetition stats (top-bigram dominance)
    "q_repetition" -> ((s, dir) =>
      graft.functions.TextAnalysis.repetitionStats(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // ---- fuzzy matching: edit distance (integer-exact) ----
    "q_edit_distance" -> ((s, dir) =>
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
                levenshtein(col("c_name"), lit("Customer#000000100"))
                  .as("edit_dist"))
        .filter(col("edit_dist") <= 3)),

    // ---- BPE-style tokenizer-training primitive: adjacent character
    //      pair counts over the document corpus (first 512 chars,
    //      lowercased), kept at ≥0.1% relative support ----
    "q_bpe_merge" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(lower(substring(col("text"), 1, 512)).as("t"))
        .filter(length(col("t")) >= 2)
      // aggregate once, derive the total from the (tiny) grouped
      // result — the support gate never rescans the corpus.
      // Pairs come from zipping the char array with itself shifted by
      // one: substring(t, i, 2) in a position loop is O(i) per call on
      // UTF8 strings (chars must be counted from the start), i.e. O(n²)
      // per document; the split+zip form is O(n).
      val g = d
        .withColumn("ch", expr("slice(split(t, ''), 1, length(t))"))
        .select(explode(expr(
          "filter(zip_with(ch, slice(ch, 2, size(ch) - 1), " +
          "(a, b) -> concat(a, b)), x -> x is not null)")).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .transform(graft.operators.CheckpointScope.pin(_))
      g.crossJoin(broadcast(g.agg(sum("n").as("total"))))
        .filter(col("n") * 1000 >= col("total"))
        .select(col("pair"), col("n"))
    }),

    // ---- FULL BPE trainer: 6 unrolled merge rounds over the word-
    //      frequency table (pair recount → global argmax → greedy
    //      left-to-right merge, all vocabulary-proportional after one
    //      corpus scan); the merge table is the trained artifact ----
    // train / vocab / encode are three views over ONE shared training
    // run (bpeModelFor — the kmeansModels pattern)
    "q_bpe_train" -> ((s, dir) => bpeModelFor(s, dir, 6)._1),
    // the other trained artifact: the surviving subword vocabulary
    "q_bpe_vocab" -> ((s, dir) =>
      graft.functions.Bpe.vocabFrom(bpeModelFor(s, dir, 6)._2)),
    // ENCODE with the trained tokenizer: per-doc word/subword counts
    // via one equi-join on the merged word table
    "q_bpe_encode" -> ((s, dir) =>
      graft.functions.Bpe.encodeFrom(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        bpeModelFor(s, dir, 6)._2)),

    // ---- bigram language-model counts over normalized tokens:
    //      next-token conditional frequencies, the n-gram LM training
    //      table; unigram heads derived from the bigram relation
    //      (no second corpus scan) ----
    "q_token_bigrams" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')").as("t"))
        .filter(size(col("t")) >= 2)
      val bg = d.select(explode(expr(
          "filter(zip_with(t, slice(t, 2, size(t) - 1), " +
          "(a, b) -> concat(a, ' ', b)), x -> x is not null)")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .transform(graft.operators.CheckpointScope.pin(_))
      val uni = bg
        .groupBy(substring_index(col("bigram"), " ", 1).as("w1"))
        .agg(sum("n").as("n_w1"))
      bg.filter(col("n") >= 10)
        .join(uni, substring_index(col("bigram"), " ", 1) === uni("w1"))
        .select(col("bigram"), col("n"),
          expr("cast(n as decimal(38,0)) * 1000000 div n_w1").as("cond_ppm"))
    }),

    // ---- bigram-LM quality score (CCNet-style perplexity filtering,
    //      integer-exact mean-conditional-probability form): LM from
    //      the corpus's own bigram table, each doc scored against it.
    //      One shuffle to build the LM, one bigram-keyed join + one
    //      doc groupBy to score — no text rescan ----
    "q_lm_score" -> ((s, dir) =>
      graft.functions.TextAnalysis.lmScore(
        Tables.load(s, dir, "documents"), "doc_id", "text")),

    // ---- tokenizer fertility per language: BPE-ish pretokens per
    //      whitespace word - the corpus-budgeting metric that decides
    //      how many LLM tokens a language's text really costs ----
    "q_fertility" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("long")).as("n_words"),
          sum(graft.functions.TextAnalysis.bpeTokenCount(col("text"))
            .cast("long")).as("n_bpe"))
        .withColumn("fertility_ppm", expr("n_bpe * 1000000 div n_words"))
    }),

    // ---- pairwise source vocabulary overlap: MarketBasket on
    //      token→source baskets, projected to Jaccard ppm ----
    "q_vocab_overlap" -> ((s, dir) => {
      val occ = Tables.load(s, dir, "documents")
        .select(col("source"), explode(expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')")).as("token"))
      graft.operators.MarketBasket.pairRules(occ, "token", "source", 0L)
        .select(col("item_a").as("src_a"), col("item_b").as("src_b"),
          col("pair_cnt").as("inter"),
          col("cnt_a").as("vocab_a"), col("cnt_b").as("vocab_b"),
          expr("cast(pair_cnt as decimal(38,0)) * 1000000 " +
               "div (cnt_a + cnt_b - pair_cnt)").as("jaccard_ppm"))
    }),

    // ---- PMI collocations: bigrams scoring far above independence.
    //      PMI's log is monotone, so ranking/thresholding works on the
    //      raw ratio p(ab)/(p(a)p(b)) = c_ab·N_u²/(N_bg·c_a·c_b),
    //      carried in decimal(38,0)/HUGEINT ppm (c_ab·N_u² alone tops
    //      long range at corpus scale). Unigram joins are plain equi
    //      joins on the token key — the vocabulary is never collected
    //      or broadcast ----
    "q_pmi_collocations" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')").as("t"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .transform(graft.operators.CheckpointScope.pin(_))
      val bg = toks.filter(size(col("t")) >= 2)
        .select(explode(expr(
          "filter(zip_with(t, slice(t, 2, size(t) - 1), " +
          "(a, b) -> concat(a, ' ', b)), x -> x is not null)")).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
      val nU = uni.agg(sum("c").as("n_u"))
      val nBg = toks.filter(size(col("t")) >= 2)
        .agg(sum(expr("size(t) - 1")).as("n_bg"))
      bg.withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
        .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
        .crossJoin(broadcast(nU)).crossJoin(broadcast(nBg))
        .select(col("bigram"), col("c_ab"),
          expr("""cast(c_ab as decimal(38,0)) * n_u * n_u * 1000000
                  div (cast(n_bg as decimal(38,0)) * c_a * c_b)""")
            .cast("long").as("pmi_ratio_ppm"))
    }),

    // ---- Zipf rank–frequency head: top-100 tokens with rank·freq
    //      (constant under Zipf's law). TakeOrderedAndProject shape —
    //      the full vocabulary is aggregated but only the head sorts ----
    "q_zipf" -> ((s, dir) => {
      val uni = Tables.load(s, dir, "documents")
        .select(explode(expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      uni.withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("w"))))
        .filter(col("rank") <= 100)
        .withColumn("rank_x_freq", col("rank") * col("n"))
    }),

    // ---- hashing-trick feature buckets: tokens fold into a fixed
    //      64-dim count vector, bucket = portable arithmetic over
    //      (length, first char, last char) so the oracle reproduces it
    //      exactly; the hash family is pluggable (xxhash64 in
    //      production — same plan shape, one map-side expression) ----
    "q_feature_hash" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')")).as("w"))
        .select(expr("""(length(w) * 31 + ascii(substring(w, 1, 1)) * 7
                        + ascii(substring(w, -1, 1))) % 64""").as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tokens"))),

    // ---- n-gram novelty: per document, the share of its bigram
    //      occurrences that are corpus-unique — high novelty separates
    //      original text from boilerplate. One shuffle on the bigram
    //      key to fold corpus counts back onto documents ----
    "q_ngram_novelty" -> ((s, dir) => {
      val bgDoc = Tables.load(s, dir, "documents")
        .select(col("doc_id"), expr("filter(" +
          "split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')), ' '), " +
          "x -> x != '')").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "filter(zip_with(t, slice(t, 2, size(t) - 1), " +
          "(a, b) -> concat(a, ' ', b)), x -> x is not null)")).as("bigram"))
      val counts = bgDoc.groupBy("bigram").agg(count(lit(1)).as("c"))
      bgDoc.join(counts, Seq("bigram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ppm",
          expr("n_novel * 1000000 div n_bigrams"))
    }),

    // ---- second-order Markov transitions: P(next | prev2, prev1) in
    //      ppm — the sequence-model training table one order above
    //      q_transitions. Two leads over the same per-user window; the
    //      conditional divides by the context count via a window over
    //      the grouped result (no second shuffle of raw events) ----
    "q_trigram_transitions" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
      val tri = Tables.events(s, dir)
        .withColumn("t1", lead(col("event_type"), 1).over(w))
        .withColumn("t2", lead(col("event_type"), 2).over(w))
        .filter(col("t2").isNotNull)
        .groupBy(col("event_type").as("prev2"), col("t1").as("prev1"),
          col("t2").as("next_type"))
        .agg(count(lit(1)).as("n"))
      tri.withColumn("n_ctx",
          sum("n").over(Window.partitionBy("prev2", "prev1")))
        .withColumn("p_ppm", expr("n * 1000000 div n_ctx"))
    }),
  )

  val oracleSql: Seq[(String, String)] = Seq(
    // same tokenization, same integer lift, same (lift DESC, term ASC)
    // top-5 rule as TextAnalysis.distinctiveTerms
    "q_stratum_terms" -> s"""
      WITH st AS (
        SELECT source AS stratum, term, count(*) AS cnt FROM (
          SELECT source, unnest($duckToks) AS term FROM documents)
        WHERE term <> '' GROUP BY 1, 2),
      tots AS (SELECT stratum, sum(cnt)::BIGINT AS tot_s
               FROM st GROUP BY 1),
      gl AS (SELECT term, sum(cnt)::BIGINT AS cnt_g FROM st GROUP BY 1),
      totg AS (SELECT sum(cnt)::BIGINT AS tot_g FROM st),
      lifted AS (
        SELECT st.stratum, st.term, st.cnt::BIGINT AS cnt,
               (((st.cnt * 1000000 // gl.cnt_g) * totg.tot_g)
                 // tots.tot_s)::BIGINT AS lift_ppm
        FROM st
        JOIN tots ON st.stratum = tots.stratum
        JOIN gl ON st.term = gl.term
        CROSS JOIN totg
        WHERE st.cnt >= 5)
      SELECT stratum, rank, term, cnt, lift_ppm FROM (
        SELECT *, row_number() OVER (PARTITION BY stratum
                 ORDER BY lift_ppm DESC, term)::BIGINT AS rank
        FROM lifted)
      WHERE rank <= 5
    """,

    "q_text_stats" -> s"""
      SELECT doc_id, n_chars_measured, n_tokens, n_tokens_bpe,
             round(alpha / nullif(len, 0), 6) AS alpha_ratio,
             round(punct / nullif(len, 0), 6) AS punct_ratio,
             round(stop_hits / nullif(n_tokens * 1.0, 0), 6) AS stopword_ratio,
             round(alpha / nullif(n_tokens * 1.0, 0), 6) AS mean_token_len
      FROM (
        SELECT doc_id,
               length(text)::BIGINT AS n_chars_measured,
               length(text) * 1.0 AS len,
               (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END)::BIGINT AS n_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))::BIGINT AS n_tokens_bpe,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 AS alpha,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 AS punct,
               len(list_filter($duckToks,
                   t -> list_contains([$allStopwordsSql], t))) * 1.0 AS stop_hits
        FROM documents)
    """,
    "q_lang_id" -> s"""
      SELECT doc_id, s_en, s_de, s_fr, s_es,
             CASE WHEN m > 0 AND s_en = m THEN 'en'
                  WHEN m > 0 AND s_de = m THEN 'de'
                  WHEN m > 0 AND s_fr = m THEN 'fr'
                  WHEN m > 0 AND s_es = m THEN 'es'
                  ELSE 'und' END AS lang_pred
      FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS m FROM (
        SELECT doc_id,
               ${langHitSql("en")} AS s_en, ${langHitSql("de")} AS s_de,
               ${langHitSql("fr")} AS s_fr, ${langHitSql("es")} AS s_es
        FROM (SELECT doc_id, $duckToks AS toks FROM documents)))
    """,
    "q_chunk_passages" -> """
      WITH d AS (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x <> '') AS t
                 FROM documents),
      s AS (SELECT doc_id, t, len(t) AS n,
                   unnest(range(0, greatest(len(t), 1), 12)) AS start
            FROM d)
      SELECT doc_id, (start // 12)::INTEGER AS chunk_idx,
             start::INTEGER AS start_tok,
             least(24, n - start)::BIGINT AS n_chunk_tokens,
             array_to_string(t[start + 1 : start + 24], ' ') AS passage
      FROM s WHERE start < n
    """,
    "q_pii_redact" -> """
      WITH p AS (
        SELECT doc_id,
               concat(text, ' contact user', doc_id, '@example.com call ',
                      '415-555-', lpad((doc_id % 10000)::VARCHAR, 4, '0'),
                      ' ssn 078-05-',
                      lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0'),
                      ' ip 10.0.', (doc_id % 256)::VARCHAR, '.',
                      ((doc_id * 3) % 256)::VARCHAR) AS text_pii
        FROM documents)
      SELECT doc_id,
             len(regexp_extract_all(text_pii,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
             len(regexp_extract_all(text_pii,
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b'))::BIGINT AS n_ssn,
             len(regexp_extract_all(text_pii,
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b'))::BIGINT AS n_phone,
             len(regexp_extract_all(text_pii,
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b'))::BIGINT AS n_ip,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               text_pii,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
               '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '[PHONE]', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g') AS redacted
      FROM p
    """,
    "q_tfidf_topk" -> s"""
      WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(list_filter($duckToks, x -> x <> ''))
                AS token FROM documents)
        GROUP BY doc_id, token
      ),
      stats AS (SELECT doc_id, token, tf,
                       count(*) OVER (PARTITION BY token) AS df
                FROM tf),
      scored AS (SELECT *, (tf * 1000000) // df AS score_micro,
                        row_number() OVER (PARTITION BY doc_id
                          ORDER BY (tf * 1000000) // df DESC, token) AS rank
                 FROM stats)
      SELECT doc_id, token, tf, df, score_micro, rank
      FROM scored WHERE rank <= 3
    """,
    "q_repetition" -> s"""
      WITH g AS (
        SELECT doc_id, unnest(list_transform(range(1, len(t)),
                 i -> array_to_string(t[i:i+1], ' '))) AS bigram
        FROM (SELECT doc_id, $duckToks AS t FROM documents)
        WHERE len(t) >= 2
      ),
      c AS (SELECT doc_id, bigram, count(*) AS c FROM g GROUP BY 1, 2)
      SELECT doc_id, (sum(c))::BIGINT AS n_bigrams, max(c) AS max_bigram_count,
             ((max(c) * 1000000) // sum(c))::BIGINT AS ratio_micro
      FROM c GROUP BY doc_id
    """,
    "q_edit_distance" -> """
      SELECT c_custkey,
             levenshtein(c_name, 'Customer#000000100') AS edit_dist
      FROM customer
      WHERE levenshtein(c_name, 'Customer#000000100') <= 3
    """,

    "q_bpe_merge" -> """
      WITH d AS (SELECT lower(substring(text, 1, 512)) AS t FROM documents
                 WHERE length(text) >= 2),
      p AS (SELECT unnest(list_transform(range(1, length(t)),
                                         i -> substring(t, i, 2))) AS pair
            FROM d),
      tot AS (SELECT count(*) AS total FROM p)
      SELECT pair, count(*) AS n FROM p, tot
      GROUP BY pair, total HAVING count(*) * 1000 >= total
    """,

    "q_bpe_train" -> s"""
      ${bpeCtes(6)}
      SELECT round, pair, n FROM (
        ${(0 until 6).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")})
    """,

    "q_bpe_vocab" -> s"""
      ${bpeCtes(6)}
      SELECT symbol, sum(freq)::BIGINT AS n FROM (
        SELECT freq, unnest(string_split(s, ' ')) AS symbol FROM w6)
      GROUP BY 1
    """,

    "q_bpe_encode" -> s"""
      ${bpeCtes(6)},
      docw AS (SELECT doc_id, unnest($duckToks) AS w FROM documents)
      SELECT doc_id, count(*)::BIGINT AS n_words,
             sum(len(string_split(s, ' ')))::BIGINT AS n_subwords
      FROM docw JOIN w6 USING (w)
      WHERE w <> '' GROUP BY doc_id
    """,

    "q_token_bigrams" -> s"""
      WITH d AS (SELECT list_filter($duckToks, x -> x <> '') AS t
                 FROM documents),
      bg0 AS (SELECT unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i+1]))
                AS bigram
              FROM d WHERE len(t) >= 2),
      bg AS (SELECT bigram, count(*) AS n FROM bg0 GROUP BY 1),
      uni AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(n) AS n_w1
              FROM bg GROUP BY 1)
      SELECT bigram, n, (n::HUGEINT * 1000000 // n_w1)::BIGINT AS cond_ppm
      FROM bg JOIN uni ON split_part(bigram, ' ', 1) = w1
      WHERE n >= 10
    """,

    "q_fertility" -> """
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+'))
                 END)::BIGINT AS n_words,
             sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')))::BIGINT AS n_bpe,
             (sum(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')))::HUGEINT * 1000000
              // sum(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                     END))::BIGINT AS fertility_ppm
      FROM documents GROUP BY lang
    """,

    "q_lm_score" -> s"""
      WITH d AS (SELECT doc_id, list_filter($duckToks, x -> x <> '') AS t
                 FROM documents),
      db AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i+1]))
                      AS bigram
             FROM d WHERE len(t) >= 2),
      lm AS (SELECT bigram, count(*) AS n FROM db GROUP BY 1),
      uni AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(n) AS n_w1
              FROM lm GROUP BY 1),
      sc AS (SELECT bigram, (n::HUGEINT * 1000000 // n_w1) AS cond_ppm
             FROM lm JOIN uni ON split_part(bigram, ' ', 1) = w1)
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             (sum(cond_ppm) // count(*))::BIGINT AS lm_score_ppm
      FROM db JOIN sc USING (bigram)
      GROUP BY doc_id
    """,

    "q_vocab_overlap" -> s"""
      WITH occ AS (SELECT DISTINCT source,
                          unnest(list_filter($duckToks, x -> x <> ''))
                            AS token
                   FROM documents),
      vocab AS (SELECT source, count(*) AS v FROM occ GROUP BY 1),
      p AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
            FROM occ a JOIN occ b ON a.token = b.token
                                 AND a.source < b.source
            GROUP BY 1, 2)
      SELECT src_a, src_b, inter, va.v AS vocab_a, vb.v AS vocab_b,
             (inter::HUGEINT * 1000000 // (va.v + vb.v - inter))::BIGINT
               AS jaccard_ppm
      FROM p JOIN vocab va ON va.source = p.src_a
             JOIN vocab vb ON vb.source = p.src_b
    """,

    "q_pmi_collocations" -> s"""
      WITH d AS (SELECT list_filter($duckToks, x -> x <> '') AS t
                 FROM documents),
      uni AS (SELECT unnest(t) AS w FROM d),
      uc AS (SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY 1),
      bg0 AS (SELECT unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i+1]))
                AS bigram
              FROM d WHERE len(t) >= 2),
      bg AS (SELECT bigram, count(*)::BIGINT AS c_ab FROM bg0
             GROUP BY 1 HAVING count(*) >= 5),
      nu AS (SELECT sum(c)::HUGEINT AS n_u FROM uc),
      nbg AS (SELECT sum(len(t) - 1)::HUGEINT AS n_bg FROM d
              WHERE len(t) >= 2)
      SELECT bigram, c_ab,
             (c_ab::HUGEINT * n_u * n_u * 1000000
              // (n_bg * ca.c * cb.c))::BIGINT AS pmi_ratio_ppm
      FROM bg
      JOIN uc ca ON split_part(bigram, ' ', 1) = ca.w
      JOIN uc cb ON split_part(bigram, ' ', 2) = cb.w
      CROSS JOIN nu CROSS JOIN nbg
    """,

    "q_zipf" -> s"""
      WITH uni AS (SELECT unnest(list_filter($duckToks, x -> x <> ''))
                     AS w
                   FROM documents),
      uc AS (SELECT w, count(*)::BIGINT AS n FROM uni GROUP BY 1),
      r AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w)::BIGINT
                          AS rank
            FROM uc)
      SELECT w, n, rank, rank * n AS rank_x_freq
      FROM r WHERE rank <= 100
    """,

    "q_feature_hash" -> s"""
      WITH uni AS (SELECT unnest(list_filter($duckToks, x -> x <> ''))
                     AS w
                   FROM documents)
      SELECT (length(w) * 31 + ascii(substring(w, 1, 1)) * 7
              + ascii(substring(w, -1, 1))) % 64 AS bucket,
             count(*)::BIGINT AS n_tokens
      FROM uni GROUP BY 1
    """,

    "q_ngram_novelty" -> s"""
      WITH d AS (SELECT doc_id, list_filter($duckToks, x -> x <> '') AS t
                 FROM documents),
      bg AS (SELECT doc_id,
                    unnest(list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i+1]))
                      AS bigram
             FROM d WHERE len(t) >= 2),
      counts AS (SELECT bigram, count(*)::BIGINT AS c FROM bg GROUP BY 1)
      SELECT doc_id, count(*) AS n_bigrams,
             sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
             (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS novelty_ppm
      FROM bg JOIN counts USING (bigram)
      GROUP BY 1
    """,

    "q_trigram_transitions" -> """
      WITH e AS (SELECT user_id, event_id, event_type,
                        (epoch_ns(ts) // 1000) * 1000 AS tns
                 FROM events),
      tri AS (SELECT event_type AS prev2,
                     lead(event_type, 1) OVER w AS prev1,
                     lead(event_type, 2) OVER w AS next_type
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
      g AS (SELECT prev2, prev1, next_type, count(*)::BIGINT AS n
            FROM tri WHERE next_type IS NOT NULL
            GROUP BY 1, 2, 3)
      SELECT prev2, prev1, next_type, n,
             sum(n) OVER (PARTITION BY prev2, prev1)::BIGINT AS n_ctx,
             (n * 1000000 // sum(n) OVER (PARTITION BY prev2, prev1)
               )::BIGINT AS p_ppm
      FROM g
    """,
  )
}
