package graft.queries

import graft.search.{BM25, BM25Index, Collections, ServingStores}
import graft.util.{LocalScan, Num, QueryPack, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's three online query shapes (SURVEY.md §3.3) as Spark
  * queries: BM25 keyword relevance, hashtag exact-match, user timeline —
  * each one relational join/agg algebra instead of Solr round-trips.
  */
object SearchQueries extends QueryPack {

  /** Fixed two-term query: double summation over 2 per-term scores is
    * order-independent (IEEE addition is commutative), keeping the score
    * bit-identical to the oracle under any partitioning.
    */
  val QueryTerms: Seq[String] = Seq("spark", "query")

  /** Phrase for the quoted-phrase query — present at every SF of the
    * synthetic corpus (24-312 matching docs).
    */
  val PhraseTerms: Seq[String] = Seq("hash", "join")

  /** Per-field BM25 CTE chain for the oracle SQL (DuckDB), mirroring
    * [[graft.search.BM25.scoreAll]] shape for shape over an arbitrary field
    * expression; CTE names carry `sfx` so two fields can coexist in one
    * query (the multi-field oracle).
    */
  private def bm25FieldCte(fieldSql: String, sfx: String,
                           from: String = "documents",
                           terms: Seq[String] = QueryTerms): String =
    raw"""toks$sfx AS (SELECT doc, term FROM (
         |    SELECT doc_id AS doc, unnest(string_split_regex(
         |      regexp_replace(lower($fieldSql), '[^a-z0-9\s]', '', 'g'), '\s+')) AS term
         |    FROM $from) WHERE length(term) > 0),
         |dl$sfx AS (SELECT doc, CAST(COUNT(*) AS DOUBLE) AS len FROM toks$sfx GROUP BY doc),
         |corpus$sfx AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  SUM(len) / CAST(COUNT(*) AS DOUBLE) AS avglen FROM dl$sfx),
         |tf$sfx AS (SELECT doc, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks$sfx
         |  WHERE term IN (${terms.map(t => s"'$t'").mkString(", ")}) GROUP BY doc, term),
         |dfreq$sfx AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf$sfx GROUP BY term),
         |scored$sfx AS (
         |  SELECT t.doc, round(SUM(
         |    ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5)) *
         |    (t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / c.avglen)))
         |  ), 6) AS score
         |  FROM tf$sfx t JOIN dfreq$sfx d USING (term) JOIN dl$sfx dl USING (doc)
         |  CROSS JOIN corpus$sfx c
         |  GROUP BY t.doc)""".stripMargin

  private val bm25Cte = "WITH " + bm25FieldCte("text", "") + ",\n" +
    "top10 AS (SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10)\n"

  /** MLT oracle — shared by the ad-hoc (`q_more_like_this`) and
    * index-served (`q_mlt_served`) paths: both must converge to the same
    * seed-term selection and BM25 ranking.
    */
  private val mltOracle: String =
    raw"""WITH toks AS (SELECT doc, term FROM (
         |    SELECT doc_id AS doc, unnest(string_split_regex(
         |      regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+')) AS term
         |    FROM documents) WHERE length(term) > 0),
         |tfall AS (SELECT doc, term, CAST(COUNT(*) AS DOUBLE) AS tf
         |  FROM toks GROUP BY doc, term),
         |dl AS (SELECT doc, CAST(COUNT(*) AS DOUBLE) AS len FROM toks GROUP BY doc),
         |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  SUM(len) / CAST(COUNT(*) AS DOUBLE) AS avglen FROM dl),
         |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tfall GROUP BY term),
         |seedterms AS (SELECT t.term
         |  FROM tfall t JOIN dfreq d USING (term) CROSS JOIN corpus c
         |  WHERE t.doc = 0
         |  ORDER BY round(t.tf * ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5)), 6) DESC,
         |    t.term ASC LIMIT 8),
         |scored AS (SELECT t.doc, round(SUM(
         |    ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5)) *
         |    (t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / c.avglen)))
         |  ), 6) AS score
         |  FROM tfall t JOIN seedterms USING (term) JOIN dfreq d USING (term)
         |  JOIN dl USING (doc) CROSS JOIN corpus c
         |  WHERE t.doc <> 0 GROUP BY t.doc)
         |SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10""".stripMargin

  /** Derived field for the UAX-analyzer query: every 10th doc gains a URL,
    * an @mention and a possessive — the token shapes the whitespace
    * analyzer shatters and UAX29URLEmailTokenizer keeps whole. Both engines
    * derive it identically, so the scoring is hash-checkable.
    */
  private val UaxSuffix =
    " spark's docs at https://spark.apache.org/docs by @user1"
  private val UaxFieldSql =
    s"text || CASE WHEN doc_id % 10 = 0 THEN ' ${UaxSuffix.trim.replace("'", "''")}' ELSE '' END"
  private val UaxQueryTerms: Seq[String] =
    Seq("https://spark.apache.org/docs", "@user1", "spark")

  /** Classic-analyzer fixture: every 10th doc carries the token shapes
    * the Lucene classic grammar treats specially — an acronym (dots
    * removed by ClassicFilter), a digit-free hyphen compound (split), a
    * digit-carrying one (kept whole, the NUM rule), a bare host (kept
    * whole), a COMPANY token, and a possessive.
    */
  private val ClassicSuffix =
    " u.s.a. wi-fi x-100 spark.apache.org at&t john's"
  private val ClassicFieldSql =
    s"text || CASE WHEN doc_id % 10 = 0 THEN ' ${ClassicSuffix.trim.replace("'", "''")}' ELSE '' END"
  private val ClassicQueryTerms: Seq[String] =
    Seq("U.S.A.", "wi-fi", "x-100", "spark.apache.org")

  /** Classic-analyzer BM25 CTE chain: [[bm25UaxCte]]'s body with the
    * classic token pipeline — extract with
    * [[graft.search.BM25.ClassicPattern]], then the filter rewrites
    * (acronym dot-strip, digit-free-compound split, possessive fold)
    * mirrored as the identical CASE the Spark plan runs.
    */
  private def bm25ClassicCte(fieldSql: String): String = {
    val pat = graft.search.BM25.ClassicPattern.replace("'", "''")
    val termList = graft.search.BM25.analyzeClassic(ClassicQueryTerms)
      .map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
    raw"""toks AS (SELECT doc, unnest(
         |    CASE WHEN regexp_matches(raw, '^[a-z](?:\.[a-z])+\.?$$')
         |           THEN [replace(raw, '.', '')]
         |         WHEN regexp_matches(raw, '^[a-z0-9]+(?:[-_/,][a-z0-9]+)+$$')
         |           AND NOT regexp_matches(raw, '[0-9]')
         |           THEN string_split_regex(raw, '[-_/,]')
         |         ELSE [regexp_replace(raw, '''s$$', '')] END) AS term FROM (
         |    SELECT doc_id AS doc, unnest(regexp_extract_all(lower($fieldSql), '$pat', 1)) AS raw
         |    FROM documents) WHERE length(raw) > 0),
         |toksf AS (SELECT doc, term FROM toks WHERE length(term) > 0),
         |dl AS (SELECT doc, CAST(COUNT(*) AS DOUBLE) AS len FROM toksf GROUP BY doc),
         |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  SUM(len) / CAST(COUNT(*) AS DOUBLE) AS avglen FROM dl),
         |tf AS (SELECT doc, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toksf
         |  WHERE term IN ($termList) GROUP BY doc, term),
         |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT t.doc, round(SUM(
         |    ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5)) *
         |    (t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / c.avglen)))
         |  ), 6) AS score
         |  FROM tf t JOIN dfreq d USING (term) JOIN dl USING (doc)
         |  CROSS JOIN corpus c
         |  GROUP BY t.doc)""".stripMargin
  }

  /** UAX-analyzer BM25 CTE chain: [[bm25FieldCte]] with
    * [[graft.search.BM25.UaxPattern]] tokenization (regexp_extract_all is
    * RE2 in DuckDB, leftmost-first like Java regex on this
    * lookaround-free alternation) and the ClassicFilter possessive strip.
    */
  private def bm25UaxCte(fieldSql: String): String = {
    // same pattern constant the Spark plan uses; SQL-quote apostrophes
    val pat = graft.search.BM25.UaxPattern.replace("'", "''")
    val termList = graft.search.BM25.analyzeUax(UaxQueryTerms)
      .map(t => "'" + t.replace("'", "''") + "'").mkString(", ")
    raw"""toks AS (SELECT doc, regexp_replace(raw, '''s$$', '') AS term FROM (
         |    SELECT doc_id AS doc, unnest(regexp_extract_all(lower($fieldSql), '$pat', 1)) AS raw
         |    FROM documents) WHERE length(raw) > 0),
         |dl AS (SELECT doc, CAST(COUNT(*) AS DOUBLE) AS len FROM toks GROUP BY doc),
         |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |  SUM(len) / CAST(COUNT(*) AS DOUBLE) AS avglen FROM dl),
         |tf AS (SELECT doc, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM toks
         |  WHERE term IN ($termList) GROUP BY doc, term),
         |dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |scored AS (
         |  SELECT t.doc, round(SUM(
         |    ln(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5)) *
         |    (t.tf * 2.2 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.len / c.avglen)))
         |  ), 6) AS score
         |  FROM tf t JOIN dfreq d USING (term) JOIN dl USING (doc)
         |  CROSS JOIN corpus c
         |  GROUP BY t.doc)""".stripMargin
  }

  /** The stand-in OCR field for the multi-field oracle: a deterministic
    * derivation both engines can compute (every 20th doc "contains an image
    * whose OCR text matches the query"; all others carry their lang tag).
    * The real OCR seam feeds [[graft.search.Collections.tweetsWithMediaText]]
    * — spec-verified; this derived field is what makes the multi-field
    * SCORING hash-checkable against DuckDB.
    */
  private val MediaFieldSql =
    "CASE WHEN doc_id % 20 = 0 THEN 'spark query ocr' ELSE lang END"

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Keyword relevance search, rows=10 (`SolrRanker.java:66-91`) — the
    // ad-hoc path (tokenizes the corpus; right for one-off queries).
    "q_keyword_bm25" -> ((s, dir) =>
      BM25.scoreTopK(Tables.documents(s, dir), "doc_id", "text", QueryTerms, k = 10)),

    // Solr QueryElevation: docs 42 and 7 pinned above the organic BM25
    // ranking (42 first, per the elevate.xml order), non-matching pins
    // admitted at score 0.
    "q_elevate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Collections.elevate(docs.select(col("doc_id").as("doc")),
        BM25.scoreAll(docs, "doc_id", "text", QueryTerms),
        "doc", pinned = Seq(42L, 7L), k = 10)
    }),

    // Solr highlighting: snippet around the first query-term hit, over the
    // keyword top-10 (snippet assembly scales with the result cap).
    "q_highlight" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val top = BM25.scoreTopK(docs, "doc_id", "text", QueryTerms, k = 10)
        .select(col("doc").as("doc_id"), col("score"))
      graft.search.Collections.highlight(
        top.join(docs.select("doc_id", "text"), "doc_id"),
        "text", "spark", window = 30)
        .select(col("doc_id"), col("score"), col("snippet"))
    }),

    // Solr suggester: prefix autocomplete over the corpus vocabulary.
    "q_suggest" -> ((s, dir) =>
      graft.search.Collections.suggest(Tables.documents(s, dir),
        "doc_id", "text", prefix = "s", k = 10)),

    // More-Like-This (Solr MLT): doc 0's top-8 tf-idf terms as the query,
    // BM25 top-10 over the rest of the corpus.
    "q_more_like_this" -> ((s, dir) =>
      BM25.moreLikeThis(Tables.documents(s, dir), "doc_id", "text",
        seedId = 0L, nTerms = 8, k = 10)),

    // Same MLT served from the prebuilt index — seed terms from the seed's
    // postings, df from termstats, no corpus re-tokenize. Must reproduce
    // the ad-hoc MLT ranking exactly (same oracle).
    "q_mlt_served" -> ((s, dir) =>
      BM25Index.moreLikeThis(s, BM25Index.ensureBuilt(s, dir),
        seedId = 0L, nTerms = 8, k = 10)),

    // Quoted-phrase query (Solr's `"..."` semantics): consecutive-token
    // containment on the analyzed stream, then BM25 over the match set.
    "q_keyword_phrase" -> ((s, dir) =>
      BM25.scoreTopKPhrase(Tables.documents(s, dir), "doc_id", "text",
        PhraseTerms, k = 10)),

    // Solr-style facet counts over the keyword result set
    // (facet.field=lang,source) — group counts per facet value.
    "q_facets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = docs.join(
        BM25.scoreAll(docs, "doc_id", "text", QueryTerms)
          .select(col("doc").as("doc_id")), "doc_id")
      graft.search.Collections.facets(hits, Seq("lang", "source"))
    }),

    // Same phrase query served from the POSITIONS index — no corpus
    // re-tokenize; reads only the bucket/term-pruned positional postings.
    // Must reproduce the ad-hoc phrase ranking exactly (same oracle).
    "q_keyword_phrase_served" -> ((s, dir) =>
      BM25Index.topKPhrase(s, BM25Index.ensureBuilt(s, dir), PhraseTerms, k = 10)),

    // Suggester served from the persisted vocabulary (termstats) — the
    // ad-hoc q_suggest tokenizes the corpus per call; this reads the
    // corpus-metadata-sized term table only. Same oracle.
    "q_suggest_served" -> ((s, dir) =>
      BM25Index.suggest(s, BM25Index.ensureBuilt(s, dir), prefix = "s", k = 10)),

    // Solr spellcheck component ("did you mean"): corpus-vocabulary terms
    // within edit distance 2 of the typo, ranked distance → df → term.
    "q_spell_didyoumean" -> ((s, dir) => {
      val vocab = graft.search.BM25.tokens(Tables.documents(s, dir), "doc_id", "text")
        .distinct()
        .groupBy(col("term")).agg(Num.cnt.as("df"))
      graft.search.Collections.didYouMean(vocab, input = "sot", maxDist = 2, k = 5)
    }),

    // Solr result grouping (group.field=source, group.limit=2): top-2 docs
    // per source over the keyword match set, with per-group numFound.
    "q_group_collapse" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = BM25.scoreAll(docs, "doc_id", "text", QueryTerms)
        .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
      graft.search.Collections.groupCollapse(hits, "source",
          Seq(col("score").desc, col("doc").asc), perGroup = 2)
        .select(col("source"), col("doc"), col("score"),
          col("rank_in_group"), col("group_size"))
    }),

    // Solr range facet (facet.range=n_chars, gap=100) over the keyword
    // match set.
    "q_facet_range" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = docs.join(
        BM25.scoreAll(docs, "doc_id", "text", QueryTerms)
          .select(col("doc").as("doc_id")), "doc_id")
      graft.search.Collections.facetRange(hits, "n_chars", gap = 100L)
    }),

    // Solr pivot facet (facet.pivot=lang,source) over the keyword match set.
    "q_facet_pivot" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = docs.join(
        BM25.scoreAll(docs, "doc_id", "text", QueryTerms)
          .select(col("doc").as("doc_id")), "doc_id")
      graft.search.Collections.facetPivot(hits, "lang", "source")
    }),

    // Solr stats component (stats.field=n_chars) over the keyword match set.
    "q_stats_field" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hits = docs.join(
        BM25.scoreAll(docs, "doc_id", "text", QueryTerms)
          .select(col("doc").as("doc_id")), "doc_id")
      graft.search.Collections.statsField(hits, "n_chars")
    }),

    // Lucene-analyzer parity (`SolrFieldType.java:39-45`): the UAX#29-style
    // tokenizer keeps URLs/@mentions whole and folds possessives, so a
    // query FOR a URL matches only docs carrying it as one token.
    "q_keyword_uax" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("uax_text",
        concat(col("text"),
          when(col("doc_id") % 10 === 0, lit(UaxSuffix)).otherwise(lit(""))))
      BM25.scoreTopKUax(docs, "doc_id", "uax_text", UaxQueryTerms, k = 10)
    }),

    // Hybrid retrieval: the BM25 keyword top-20 and the cosine vector
    // top-20 fused by reciprocal rank (RRF, k=60 — the published
    // parameter): rank-only fusion needs no score calibration between
    // the two retrievers, and the fusion works on 40 rows regardless of
    // corpus size — the heavy lifting stays inside each retriever's own
    // top-k. n_lists carries the both-retrievers-agree signal.
    "q_hybrid_rrf" -> ((s, dir) => {
      val kw = BM25.scoreTopK(Tables.documents(s, dir), "doc_id", "text",
          QueryTerms, k = 20)
        .select(col("doc").as("doc_id"), col("score"))
      val vec = graft.similarity.Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding", queryId = 0L, k = 20)
        .select(col("vec_id").as("doc_id"), col("cosine").as("score"))
      graft.search.Fusion.rrf(Seq("kw" -> kw, "vec" -> vec), "doc_id", "score",
        k = 60, topK = 10)
    }),

    // Classic-analyzer parity (`SolrFieldType.java:41`,
    // solr.ClassicTokenizerFactory): acronyms match dot-stripped, digit-
    // free hyphen compounds match by their parts, digit compounds and
    // hosts only whole — each behavior observable in this ranking
    // because the fixture plants all the shapes on every 10th doc.
    "q_keyword_classic" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("classic_text",
        concat(col("text"),
          when(col("doc_id") % 10 === 0, lit(ClassicSuffix)).otherwise(lit(""))))
      BM25.scoreTopKClassic(docs, "doc_id", "classic_text", ClassicQueryTerms, k = 10)
    }),

    // Same query served from the persistent index (`SolrIndexer.java:47-59`
    // — Solr never re-analyzes per query). Build-once-if-absent, then every
    // run reads only the bucket-pruned postings slice. Identical top-10.
    "q_keyword_bm25_served" -> ((s, dir) =>
      BM25Index.topKMerged(s, BM25Index.ensureBuilt(s, dir), QueryTerms,
        k = 10)),

    // Incremental index maintenance (Lucene-segment style): base index on
    // 80% of the corpus, the rest appended later as a segment; merged
    // serving (global df/N/avglen across parts) must equal the full-corpus
    // ranking EXACTLY — the oracle is the same ad-hoc BM25 SQL.
    "q_keyword_bm25_incr" -> ((s, dir) =>
      BM25Index.topKMerged(s, BM25Index.ensureBuiltIncremental(s, dir),
        QueryTerms, k = 10)),

    // Multi-field relevance (`SolrRanker.java:76`: tweetText OR
    // tweetMediaText): per-field BM25 summed; the derived media field makes
    // a media-text-only match (doc_id % 20 = 0, text without the terms)
    // surface in the ranking.
    "q_keyword_multifield" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("media_text",
        when(col("doc_id") % 20 === 0, lit("spark query ocr")).otherwise(col("lang")))
      BM25.scoreTopKFields(docs, "doc_id", Seq("text", "media_text"), QueryTerms, k = 10)
    }),

    // edismax qf boosts (`qf=text^2 media_text^1`): per-field BM25 scaled
    // by its boost before the OR-sum — text hits outrank equal media hits.
    "q_keyword_boosted_fields" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("media_text",
        when(col("doc_id") % 20 === 0, lit("spark query ocr")).otherwise(col("lang")))
      BM25.scoreTopKFieldsBoosted(docs, "doc_id",
        Seq("text" -> 2.0, "media_text" -> 1.0), QueryTerms, k = 10)
    }),

    // edismax additive function boost (`bf=ln(1+n_chars/100)`): relevance
    // plus a document-quality signal, computed only for matching docs.
    "q_keyword_boost_fn" -> ((s, dir) =>
      BM25.scoreTopKBoosted(Tables.documents(s, dir), "doc_id", "text",
        QueryTerms, log(lit(1.0) + col("n_chars") / lit(100.0)), k = 10)),

    // Solr filter query (`fq=lang:en`): restricts results WITHOUT touching
    // scoring — df/N/avglen stay corpus-wide, unlike the phrase query.
    "q_keyword_fq" -> ((s, dir) =>
      BM25.scoreTopKFiltered(Tables.documents(s, dir), "doc_id", "text",
        QueryTerms, col("lang") === "en", k = 10)),

    // …then joined to its "users" side — the reference resolves each result
    // tweet's author with N+1 Solr point lookups (`SolrRanker.java:58-64`);
    // here it is one broadcast join against per-source stats.
    "q_keyword_join_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val top = BM25.scoreTopK(docs, "doc_id", "text", QueryTerms, k = 10)
      val srcStats = docs.groupBy(col("source"))
        .agg(Num.cnt.as("src_docs"), sum(col("n_chars")).cast("long").as("src_chars"))
      top.join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
        .join(broadcast(srcStats), "source")
        .select(col("doc"), col("score"), col("source"), col("src_docs"), col("src_chars"))
    }),

    // Hashtag exact-match, rows=1000 (`SolrRanker.java:93-118`):
    // `array_contains` over the token array ~ `tweetHashtags:'<tag>'`.
    "q_hashtag_search" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(array_contains(split(col("text"), " "), "spark"))
        .orderBy(col("doc_id").asc)
        .limit(1000)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // User timeline: name lookup → FK expansion → sorted limit 1000
    // (`SolrRanker.java:129-159`), customer/orders standing in for
    // users/tweets per FIXTURES.md §4.
    "q_user_timeline" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_name") === "Customer#000000042")
      Tables.orders(s, dir)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1000)
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    }),

    // q_hashtag_search SERVED from the persisted posting store: one
    // bucket-pruned probe instead of an array_contains scan of the
    // corpus — the request plan a hashtag route runs at production QPS
    // (round-10 verdict item 7; same oracle as the ad-hoc query).
    "q_hashtag_served" -> ((s, dir) => {
      val store = ServingStores.ensureDocPostings(s, dir)
      ServingStores.postingProbe(s, store, "spark", Some(LocalScan.Top(1000, col("doc_id").asc)))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // the LIFECYCLE twin: the store is built from 80% of the docs, the
    // rest appended, then compacted — probed with q_hashtag_served's
    // oracle VERBATIM, so append+compact ≡ one-shot is a driver hash
    // gate, not just a spec
    "q_hashtag_incr" -> ((s, dir) => {
      val store = ServingStores.ensureDocPostingsIncr(s, dir)
      ServingStores.postingProbe(s, store, "spark", Some(LocalScan.Top(1000, col("doc_id").asc)))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // q_user_timeline SERVED: the FK expansion reads ONLY the matched
    // keys' buckets of the date-sorted timeline layout — no orders-table
    // scan at request time. The name can resolve to SEVERAL custkeys
    // (the synthesized sf1 mutates keys per copy, like shard/alias
    // resolution in a real serving tier), so the LITERAL key set
    // (collected once, distinct) drives the static bucket prune and the
    // customer frame re-joins the pruned probe so row multiplicity
    // matches the ad-hoc join exactly. Same oracle as the ad-hoc query.
    "q_user_timeline_served" -> ((s, dir) => {
      val store = ServingStores.ensureOrdersTimeline(s, dir)
      val cust = Tables.customer(s, dir)
        .filter(col("c_name") === "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
      val keys = cust.select(col("c_custkey")).distinct()
        .collect().map(_.getLong(0)).toSeq
      ServingStores.timelineProbeMany(s, store, "o_custkey", keys)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1000)
        .select(col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
    }),

    // the UPSERT lifecycle twin (round-12 verdict item 2): build from
    // the original corpus, re-post every doc_id % 7 == 0 doc EDITED
    // under its SAME id (tombstone + re-add), full-compact (tombstones
    // folded physically), then probe — the oracle queries the edited
    // corpus directly, so upsert+compact ≡ rebuild-from-updated-source
    // is a driver hash gate. Half the edits REMOVE the probed token
    // (the doc must vanish), half ADD it (must appear), and all shift a
    // served column (one stale version anywhere = hash mismatch).
    "q_hashtag_upsert" -> ((s, dir) => {
      val store = ServingStores.ensureDocPostingsUpsert(s, dir)
      ServingStores.postingProbe(s, store, "spark", Some(LocalScan.Top(1000, col("doc_id").asc)))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // lifecycle twin of the timeline route (see q_hashtag_incr)
    "q_user_timeline_incr" -> ((s, dir) => {
      val store = ServingStores.ensureOrdersTimelineIncr(s, dir)
      val cust = Tables.customer(s, dir)
        .filter(col("c_name") === "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
      val keys = cust.select(col("c_custkey")).distinct()
        .collect().map(_.getLong(0)).toSeq
      ServingStores.timelineProbeMany(s, store, "o_custkey", keys)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1000)
        .select(col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
    }),

    // upsert twin of the timeline route (see q_hashtag_upsert): every
    // o_orderkey % 7 == 0 order re-posted under its same key with
    // o_totalprice + 1000000, tombstones folded at compact — the probe
    // must serve exactly the edited orders, driver-hash-checked
    "q_user_timeline_upsert" -> ((s, dir) => {
      val store = ServingStores.ensureOrdersTimelineUpsert(s, dir)
      val cust = Tables.customer(s, dir)
        .filter(col("c_name") === "Customer#000000042")
        .select(col("c_custkey"), col("c_name"))
      val keys = cust.select(col("c_custkey")).distinct()
        .collect().map(_.getLong(0)).toSeq
      ServingStores.timelineProbeMany(s, store, "o_custkey", keys)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .limit(1000)
        .select(col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_keyword_bm25" -> (bm25Cte + "SELECT doc, score FROM top10"),

    "q_elevate" -> ("WITH " + bm25FieldCte("text", "") + """,
      |pinned AS (SELECT d.doc_id AS doc, coalesce(s.score, 0.0) AS score,
      |    CASE d.doc_id WHEN 42 THEN 0 WHEN 7 THEN 1 ELSE 2147483647 END AS pin
      |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc)
      |SELECT doc, score, (pin < 2147483647) AS elevated FROM pinned
      |ORDER BY pin ASC, score DESC, doc ASC LIMIT 10""".stripMargin),

    "q_highlight" -> (bm25Cte +
      raw"""SELECT t.doc AS doc_id, t.score,
           |  CASE WHEN strpos(lower(d.text), 'spark') = 0 THEN ''
           |    ELSE substr(d.text,
           |      greatest(1, strpos(lower(d.text), 'spark') - 30), 65)
           |  END AS snippet
           |FROM top10 t JOIN documents d ON d.doc_id = t.doc""".stripMargin),

    "q_suggest" ->
      raw"""WITH toks AS (SELECT DISTINCT doc, term FROM (
           |    SELECT doc_id AS doc, unnest(string_split_regex(
           |      regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+')) AS term
           |    FROM documents) WHERE length(term) > 0)
           |SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks
           |WHERE term LIKE 's%'
           |GROUP BY term ORDER BY df DESC, term ASC LIMIT 10""".stripMargin,

    "q_more_like_this" -> mltOracle,

    // The index-served MLT must land on the identical ranking — shared
    // verbatim with the ad-hoc path.
    "q_mlt_served" -> mltOracle,

    "q_keyword_phrase" -> {
      // same analyzer normalization as the Spark predicate: lower, strip
      // non-alphanumerics, collapse whitespace, space-padded containment
      val docs0 =
        raw"""docs0 AS (SELECT doc_id, text FROM documents
             |  WHERE (' ' || regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g') || ' ')
             |    LIKE '% ${PhraseTerms.mkString(" ")} %')""".stripMargin
      "WITH " + docs0 + ",\n" +
        bm25FieldCte("text", "", from = "docs0", terms = PhraseTerms) + ",\n" +
        "top10 AS (SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10)\n" +
        "SELECT doc, score FROM top10"
    },

    // The positions-index path must reproduce the ad-hoc phrase ranking.
    "q_keyword_phrase_served" -> {
      val docs0 =
        raw"""docs0 AS (SELECT doc_id, text FROM documents
             |  WHERE (' ' || regexp_replace(regexp_replace(lower(text),
             |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g') || ' ')
             |    LIKE '% ${PhraseTerms.mkString(" ")} %')""".stripMargin
      "WITH " + docs0 + ",\n" +
        bm25FieldCte("text", "", from = "docs0", terms = PhraseTerms) + ",\n" +
        "top10 AS (SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10)\n" +
        "SELECT doc, score FROM top10"
    },

    // The vocabulary-table path must reproduce the ad-hoc suggester.
    "q_suggest_served" ->
      raw"""WITH toks AS (SELECT DISTINCT doc, term FROM (
           |    SELECT doc_id AS doc, unnest(string_split_regex(
           |      regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+')) AS term
           |    FROM documents) WHERE length(term) > 0)
           |SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks
           |WHERE term LIKE 's%'
           |GROUP BY term ORDER BY df DESC, term ASC LIMIT 10""".stripMargin,

    "q_spell_didyoumean" ->
      raw"""WITH toks AS (SELECT DISTINCT doc, term FROM (
           |    SELECT doc_id AS doc, unnest(string_split_regex(
           |      regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+')) AS term
           |    FROM documents) WHERE length(term) > 0),
           |vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term)
           |SELECT term, df, CAST(levenshtein('sot', term) AS BIGINT) AS dist
           |FROM vocab
           |WHERE levenshtein('sot', term) BETWEEN 1 AND 2
           |ORDER BY dist ASC, df DESC, term ASC LIMIT 5""".stripMargin,

    "q_group_collapse" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |hits AS (SELECT d.source, s.doc, s.score
      |  FROM scored s JOIN documents d ON d.doc_id = s.doc),
      |g AS (SELECT source, doc, score,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc ASC) AS BIGINT) AS rank_in_group,
      |  CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS group_size
      |  FROM hits)
      |SELECT source, doc, score, rank_in_group, group_size
      |FROM g WHERE rank_in_group <= 2""".stripMargin),

    "q_facet_range" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |hits AS (SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc)
      |SELECT CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket_start,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_facet_pivot" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |hits AS (SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc)
      |SELECT CAST(lang AS VARCHAR) AS value, CAST(source AS VARCHAR) AS sub_value,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM hits GROUP BY 1, 2""".stripMargin),

    "q_stats_field" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |hits AS (SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(MIN(n_chars) AS BIGINT) AS min,
      |  CAST(MAX(n_chars) AS BIGINT) AS max,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum,
      |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean,
      |  round(sqrt((CAST(SUM(n_chars * n_chars) AS DOUBLE)
      |    - CAST(SUM(n_chars) AS DOUBLE) * CAST(SUM(n_chars) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1)), 6) AS stddev
      |FROM hits""".stripMargin),

    "q_facets" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |hits AS (SELECT d.* FROM documents d JOIN scored s ON d.doc_id = s.doc)
      |SELECT 'lang' AS facet, CAST(lang AS VARCHAR) AS value,
      |  CAST(COUNT(*) AS BIGINT) AS n FROM hits GROUP BY lang
      |UNION ALL
      |SELECT 'source' AS facet, CAST(source AS VARCHAR) AS value,
      |  CAST(COUNT(*) AS BIGINT) AS n FROM hits GROUP BY source""".stripMargin),

    "q_keyword_uax" -> ("WITH " + bm25UaxCte(UaxFieldSql) +
      ",\ntop10 AS (SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10)\n" +
      "SELECT doc, score FROM top10"),

    "q_keyword_classic" -> ("WITH " + bm25ClassicCte(ClassicFieldSql) +
      ",\ntop10 AS (SELECT doc, score FROM scored ORDER BY score DESC, doc ASC LIMIT 10)\n" +
      "SELECT doc, score FROM top10"),

    "q_hybrid_rrf" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |kw AS (SELECT doc AS id, score FROM scored
      |  ORDER BY score DESC, doc ASC LIMIT 20),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |vec AS (SELECT e.vec_id AS id, round(
      |    list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), x -> x[1] * x[2])) /
      |    (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x))) *
      |     sqrt(list_sum(list_transform(CAST(q.qv AS DOUBLE[]), x -> x * x)))), 6) AS score
      |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
      |  ORDER BY score DESC, id ASC LIMIT 20),
      |kr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk FROM kw),
      |vr AS (SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk FROM vec),
      |u AS (SELECT * FROM kr UNION ALL SELECT * FROM vr)
      |SELECT id AS doc_id, round(SUM(1.0 / (60 + rnk)), 6) AS rrf_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_lists
      |FROM u GROUP BY id ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin),

    // Serving path must produce the SAME ranking as the ad-hoc path.
    "q_keyword_bm25_served" -> (bm25Cte + "SELECT doc, score FROM top10"),

    // Segment-merged serving must ALSO reproduce the full-corpus ranking.
    "q_keyword_bm25_incr" -> (bm25Cte + "SELECT doc, score FROM top10"),

    "q_keyword_multifield" ->
      ("WITH " + bm25FieldCte("text", "_t") + ",\n" +
        bm25FieldCte(MediaFieldSql, "_m") + ",\n" +
        """comb AS (SELECT coalesce(a.doc, b.doc) AS doc,
          |  round(coalesce(a.score, 0) + coalesce(b.score, 0), 6) AS score
          |  FROM scored_t a FULL JOIN scored_m b ON a.doc = b.doc)
          |SELECT doc, score FROM comb ORDER BY score DESC, doc ASC LIMIT 10""".stripMargin),

    "q_keyword_boosted_fields" ->
      ("WITH " + bm25FieldCte("text", "_t") + ",\n" +
        bm25FieldCte(MediaFieldSql, "_m") + ",\n" +
        """comb AS (SELECT coalesce(a.doc, b.doc) AS doc,
          |  round(coalesce(a.score, 0) * 2.0 + coalesce(b.score, 0), 6) AS score
          |  FROM scored_t a FULL JOIN scored_m b ON a.doc = b.doc)
          |SELECT doc, score FROM comb ORDER BY score DESC, doc ASC LIMIT 10""".stripMargin),

    "q_keyword_boost_fn" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |boosted AS (SELECT s.doc,
      |  round(s.score + ln(1.0 + d.n_chars / 100.0), 6) AS score
      |  FROM scored s JOIN documents d ON d.doc_id = s.doc)
      |SELECT doc, score FROM boosted ORDER BY score DESC, doc ASC LIMIT 10""".stripMargin),

    "q_keyword_fq" -> ("WITH " + bm25FieldCte("text", "") + raw""",
      |filtered AS (SELECT s.doc, s.score
      |  FROM scored s JOIN documents d ON d.doc_id = s.doc
      |  WHERE d.lang = 'en')
      |SELECT doc, score FROM filtered ORDER BY score DESC, doc ASC LIMIT 10""".stripMargin),

    "q_keyword_join_source" -> (bm25Cte +
      """, src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS src_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS src_chars FROM documents GROUP BY source)
        |SELECT t.doc, t.score, d.source, s.src_docs, s.src_chars
        |FROM top10 t JOIN documents d ON t.doc = d.doc_id
        |JOIN src s ON d.source = s.source""".stripMargin),

    "q_hashtag_search" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE list_contains(str_split(text, ' '), 'spark')
        |ORDER BY doc_id ASC LIMIT 1000""".stripMargin,

    "q_user_timeline" ->
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_name = 'Customer#000000042'
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1000""".stripMargin,

    // served = stored-layout probes, same results ⇒ same oracles
    "q_hashtag_served" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE list_contains(str_split(text, ' '), 'spark')
        |ORDER BY doc_id ASC LIMIT 1000""".stripMargin,

    "q_user_timeline_served" ->
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_name = 'Customer#000000042'
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1000""".stripMargin,

    // lifecycle twins: append+compact must serve the one-shot answer
    "q_hashtag_incr" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE list_contains(str_split(text, ' '), 'spark')
        |ORDER BY doc_id ASC LIMIT 1000""".stripMargin,

    "q_user_timeline_incr" ->
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_name = 'Customer#000000042'
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1000""".stripMargin,

    // upsert twins: the oracle queries the EDITED corpus directly, so a
    // store serving any stale (or ghost) row version hash-fails
    "q_hashtag_upsert" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000000
        |         ELSE n_chars END AS n_chars,
        |    CASE WHEN doc_id % 14 = 0
        |           THEN regexp_replace(text, 'spark', 'flink', 'g')
        |         WHEN doc_id % 14 = 7 THEN text || ' spark'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id, source, n_chars FROM docs
        |WHERE list_contains(str_split(text, ' '), 'spark')
        |ORDER BY doc_id ASC LIMIT 1000""".stripMargin,

    "q_user_timeline_upsert" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderdate,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1000000
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders)
        |SELECT c_name, o_orderkey, o_orderdate, o_totalprice
        |FROM o JOIN customer ON o_custkey = c_custkey
        |WHERE c_name = 'Customer#000000042'
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1000""".stripMargin
  )
}
