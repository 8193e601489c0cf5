package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kql.Kql._
import graft.kql.KqlParser
import graft.SessionArtifacts
import graft.functions.{Bm25, Bpe, Dedup, Similarity, TextAnalysis => TA}
import graft.sources.{FullTextIndex, Tables}

/** LLM-training-data-pipeline operators (the driver's north-star extensions):
  * deduplication (exact, MinHash-LSH, SimHash), text analysis (token stats, quality,
  * language-ID, fingerprinting), and embedding similarity search (brute-force +
  * LSH-bucketed ANN). Oracle SQL is provided where DuckDB can express the same
  * computation deterministically; hash/sketch-based operators get rows-only checks
  * plus ScalaTest property coverage.
  */
object NorthStarQueries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val EMB_DIM = 64

  /** Read a written-table directory (vs T(), which reads fixture tables). */
  private def T2(s: SparkSession, path: String): DataFrame = s.read.parquet(path)

  /** Full-text posting-list index over documents.text, built once per
    * (session, sfDir) — probes are the measured path, the build is amortized
    * cold-start exactly like a real index. */
  private def fulltextIdx(s: SparkSession, d: String): String =
    SessionArtifacts.dir(s, "ftx", d)(path =>
      FullTextIndex.build(T(s, d, "documents"), "doc_id", Seq("text"), path))

  // --- shared MinHash pipeline -------------------------------------------------
  // The signature table and the LSH candidate set are each computed ONCE per
  // (session, sfDir) and persisted; q_minhash_pairs and q_ngram_jaccard both reuse
  // them (round-1 recomputed the whole shingle→signature→band pipeline per query —
  // 86% of the bench).
  private val MH_HASHES = 64
  private val MH_BANDS = 16

  /** The ONE DuckDB replay of the DSIR quantized chain (tokens → hashed
    * unigram+bigram buckets → per-bucket counts → integer micro-nat model →
    * per-doc integer score) — shared verbatim by q_dsir_weights and
    * q_streaming_dsir so the smoothing constant / ln argument order /
    * rounding can never drift between the two oracles. Must stay in
    * lockstep with Dsir.trainModel's quant and importanceWeights' round
    * expression (the other two copies of the formula, by necessity of
    * engine). */
  private val dsirOracleCtes =
    """WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |uni AS (SELECT doc_id, lang, unnest(t) AS f FROM toks),
      |bi AS (SELECT doc_id, lang, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
      |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 2),
      |feats AS (SELECT doc_id,
      |    ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b, lang
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |pb AS (SELECT b, COUNT(*) AS r,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS tt
      |  FROM feats GROUP BY b),
      |tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rtot,
      |    CAST(SUM(tt) AS BIGINT) AS ttot FROM pb),
      |lr AS (SELECT b, CAST(round((ln((tt + 0.5) / (ttot + 0.5 * 4096))
      |      - ln((r + 0.5) / (rtot + 0.5 * 4096))) * 1e6) AS BIGINT) AS lrq
      |  FROM pb, tot),
      |db AS (SELECT doc_id, b, COUNT(*) AS n FROM feats GROUP BY 1, 2),
      |sc AS (SELECT doc_id, CAST(SUM(n * lrq) AS BIGINT) AS s,
      |    CAST(SUM(n) AS BIGINT) AS nf
      |  FROM db JOIN lr USING (b) GROUP BY doc_id)
      |""".stripMargin

  /** The ONE DuckDB replay of the NB classifier MODEL chain (features →
    * class-conditional counts over the labeled slice → quantized log-odds
    * + default + prior), ending in `feats`, `w`, `w0`, `pri` — shared by
    * q_quality_classifier, q_streaming_quality, and q_recipe_classifier so
    * the smoothing/quantization conventions cannot drift between the three
    * oracles (the dsirOracleCtes discipline). Composes inside a caller's
    * WITH list; per-query scoring (which docs feed `db`) stays local. */
  private val nbModelCtes: String =
    """toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
      |  FROM documents),
      |uni AS (SELECT doc_id, lang, unnest(t) AS f FROM toks),
      |bi AS (SELECT doc_id, lang, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS f
      |  FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 2),
      |feats AS (SELECT doc_id,
      |    ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b, lang
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
      |lab AS (SELECT * FROM feats WHERE doc_id % 3 = 0),
      |pb AS (SELECT b, COUNT(*) FILTER (WHERE lang = 'en') AS c1,
      |    COUNT(*) FILTER (WHERE lang <> 'en') AS c0
      |  FROM lab GROUP BY b),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
      |    CAST(SUM(c0) AS BIGINT) AS t0 FROM pb),
      |w AS (SELECT b, CAST(round((ln((c1 + 0.5) / (t1 + 0.5 * 4096))
      |      - ln((c0 + 0.5) / (t0 + 0.5 * 4096))) * 1e6) AS BIGINT) AS wq
      |  FROM pb, tot),
      |w0 AS (SELECT CAST(round((ln(0.5 / (t1 + 0.5 * 4096))
      |      - ln(0.5 / (t0 + 0.5 * 4096))) * 1e6) AS BIGINT) AS wq0 FROM tot),
      |pri AS (SELECT CAST(round((ln(n1 + 0.5) - ln(n0 + 0.5)) * 1e6) AS BIGINT) AS pq
      |  FROM (SELECT COUNT(*) FILTER (WHERE lang = 'en') AS n1,
      |      COUNT(*) FILTER (WHERE lang <> 'en') AS n0
      |    FROM documents WHERE doc_id % 3 = 0))""".stripMargin

  /** The recipe tail (allocation → epoch expansion → seed-7 shuffle →
    * per-lang summary with the permutation-sensitive checksum), over
    * in-scope `sv(doc_id, lang, tok)` and the cascade's `r3` — shared
    * verbatim by q_full_recipe and q_recipe_classifier. */
  private val recipeTailCtes: String =
    """al AS (SELECT dom, (alloc * 1000) // n_tok AS em FROM r3),
      |ex AS (SELECT dom, em // 1000 AS f, em % 1000 AS fr FROM al),
      |e AS (SELECT s.doc_id, s.lang, s.tok, t.epoch
      |  FROM sv s JOIN ex ON s.lang = ex.dom
      |  CROSS JOIN UNNEST(generate_series(0,
      |    ex.f + CASE WHEN ex.fr > 0 THEN 1 ELSE 0 END - 1)) t(epoch)
      |  WHERE t.epoch < ex.f OR ('0x' || substr(md5(
      |    CAST(t.epoch AS VARCHAR) || ':' || s.lang || ':' ||
      |    CAST(s.doc_id AS VARCHAR)), 1, 6))::BIGINT
      |      < (ex.fr * 16777216) // 1000),
      |sh AS (SELECT lang, doc_id, tok, epoch, CAST(ROW_NUMBER() OVER (ORDER BY
      |    md5('7:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)),
      |    CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))
      |    AS INT) AS pos FROM e)
      |SELECT lang, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
      |  CAST(MAX(epoch) AS BIGINT) AS max_epoch,
      |  CAST(SUM(tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CAST(pos AS BIGINT) * (doc_id % 997)) AS BIGINT) AS order_sum
      |FROM sh GROUP BY lang ORDER BY lang""".stripMargin

  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.get(s, "minhash_sigs", d)(
      Dedup.minHashSignatures(T(s, d, "documents"), "text", "doc_id",
        numHashes = MH_HASHES, shingleK = 3).persist())

  private def minhashCands(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.get(s, "lsh_cands", d)(
      Dedup.lshCandidatePairs(minhashSigs(s, d), MH_BANDS, MH_HASHES / MH_BANDS).persist())

  /** The est≥0.5 VERIFIED near-dup pair set, computed and persisted once
    * per (session, sfDir): the estJaccard verify join over the LSH
    * candidates is the expensive half of the near-dup tier, and three
    * consumers need the identical frame — q_minhash_pairs (the pairs
    * themselves), ccLabels (cluster edges), and q_leakfree_split's
    * cross-split verify join (which previously re-ran the verify join per
    * invocation on top of the cached cands/sigs). */
  private def neardupPairs(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.get(s, "neardup_pairs", d)(
      Dedup.estJaccard(minhashCands(s, d), minhashSigs(s, d), MH_HASHES)
        .where_(col("est_jaccard") >= 0.5).persist())

  /** Near-dup cluster labels (connected components over the est≥0.5 MinHash
    * pairs), computed once per (session, sfDir) — iterative, so both cluster
    * rows reuse one converged result. */
  private def ccLabels(s: SparkSession, d: String): DataFrame =
    SessionArtifacts.get(s, "cc_labels", d)(
      Dedup.connectedComponents(neardupPairs(s, d), "id_a", "id_b",
        T(s, d, "documents"), "doc_id").persist())

  /** The trained IVF coarse quantizer and PQ codebooks over the embeddings
    * corpus: MODELS, memoized per (session, sfDir) so repeated invocations
    * assign and encode without retraining. */
  private def ivfModel(s: SparkSession, d: String, corpus: DataFrame)
      : Array[Array[Float]] =
    SessionArtifacts.get(s, "ivf_model", d)(
      Similarity.ivfTrain(corpus, "corpus_id", "embedding", EMB_DIM))

  private def pqModel(s: SparkSession, d: String, corpus: DataFrame)
      : Array[Array[Array[Float]]] =
    SessionArtifacts.get(s, "pq_model", d)(
      Similarity.pqTrain(corpus, "corpus_id", "embedding", EMB_DIM))

  /** The 64-centroid SemDeDup model over the embeddings corpus. */
  private def semdedupModel(s: SparkSession, d: String, emb: DataFrame)
      : Array[Array[Float]] =
    SessionArtifacts.get(s, "semdedup_model", d)(
      Similarity.ivfTrain(emb.projectRename("corpus_id" -> "vec_id"),
        "corpus_id", "embedding", EMB_DIM, nCentroids = 64))

  /** The MaxSim fixture's doc-ownership column over the shared embeddings
    * corpus (4-token bags keyed vec_id/4) — appended rows must carry it
    * too (appendToIndex checks the manifest's has_owner loudly). */
  private def withOwnerDoc(df: DataFrame): DataFrame =
    df.withColumn("__owner_doc", (col("corpus_id") / 4).cast("long"))

  /** A session's STORED ANN index over the embeddings corpus, built once
    * per (session, sfDir, variant) — the write-once/read-many lifecycle:
    * the serve rows (stored / distributed / streaming / append) read their
    * variant's one tree, so the bench times the SERVE paths and any drift
    * between them is a correctness diff, not a build diff. Models train on
    * the FULL corpus via the session caches (byte-identical params/seed;
    * frozen before any segment is written — appends never retrain).
    * `writeFilter` restricts the initially-written half (the append row);
    * `buildTail` runs extra lifecycle steps (append/compact) on the fresh
    * tree before it is published. */
  private def builtAnnIndex(s: SparkSession, d: String, corpus: DataFrame,
      variant: String = "annidx",
      writeFilter: DataFrame => DataFrame = identity,
      buildTail: String => Unit = _ => ()): String =
    SessionArtifacts.dir(s, "annidx", s"$variant/$d") { root =>
      val cents = ivfModel(s, d, corpus)
      val books = pqModel(s, d, corpus)
      // the fixture's vectors double as TOKENS for the late-interaction
      // rows (4-token bags keyed vec_id/4), so every variant stores the
      // owning-doc id beside each code (writeIndex ownerCol) — the
      // indexed MaxSim candidate stage serves from the index tree ALONE;
      // single-vector serve rows ignore the column
      Similarity.writeIndex(withOwnerDoc(writeFilter(corpus)), root,
        "corpus_id", "embedding", EMB_DIM, trainedIvf = Some(cents),
        trainedPq = Some(books), ownerCol = "__owner_doc")
      buildTail(root)
    }

  /** Shared closure oracle: the exact-signature pair set (≥32 of 64 components
    * equal ⇔ est ≥ 0.5) + recursive min-reachable-id labels per document. */
  private def ccOracleCtes: String =
    s"""WITH RECURSIVE ${shingleHashCtes.stripPrefix("WITH ")},
       |sig AS (SELECT doc_id, [
       |    $mhSigComponents] AS sig FROM h),
       |cpairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a, sig b WHERE a.doc_id < b.doc_id
       |    AND len(list_filter(generate_series(1, $MH_HASHES), i -> a.sig[i] = b.sig[i]))
       |        >= ${MH_HASHES / 2}),
       |cedges AS (SELECT id_a AS src, id_b AS dst FROM cpairs
       |  UNION ALL SELECT id_b, id_a FROM cpairs),
       |reach AS (SELECT doc_id AS id, doc_id AS src FROM documents
       |  UNION SELECT e.dst, r.src FROM reach r JOIN cedges e ON e.src = r.id),
       |clabels AS (SELECT id, MIN(src) AS cluster FROM reach GROUP BY id)
       |""".stripMargin

  // --- DuckDB oracle builders for the sketch pipelines -------------------------
  // These replay in SQL the column forms of the sketch kernels — for MinHash,
  // the chain Dedup.minHashSignatureOf's kernel (graft.plans.MinHashSig) fuses:
  // TextAnalysis.tokens/shinglesOf → Dedup.portableHash60 mod MinHashP → affine
  // minima; and simHashFromHashes — so the sketch rows get real hash-compared
  // oracles instead of rows-only checks.

  /** tokens → distinct 3-shingles → portable shingle hashes (mod MinHashP). */
  private val shingleHashCtes: String =
    s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |    THEN list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [array_to_string(t, ' ')] END) AS sh FROM toks),
       |h AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % ${Dedup.MinHashP}) AS h FROM sh)""".stripMargin

  /** Shared ahash replay CTEs (synthetic pixels → 8×8 box means → mean
    * threshold bits) for the q_image_phash / q_image_neardup oracles. */
  private val imAhashCtes: String =
    """WITH im AS (SELECT doc_id AS id,
      |    CASE WHEN doc_id % 4 = 0 THEN 'image' ELSE 'video' END AS kind,
      |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
      |  FROM documents WHERE doc_id % 4 IN (0, 2)),
      |ga AS (SELECT id, k,
      |    (id * 31 + (((k // 8) * h // 8) * w + ((k % 8) * w // 8)) * 7) % 251 AS v
      |  FROM im, UNNEST(range(64)) t(k)),
      |sa AS (SELECT id, SUM(v) AS sm FROM ga GROUP BY id),
      |ah AS (SELECT ga.id,
      |    string_agg(CASE WHEN 64 * v >= sm THEN '1' ELSE '0' END, ''
      |      ORDER BY k) AS ahash
      |  FROM ga JOIN sa ON sa.id = ga.id GROUP BY ga.id)""".stripMargin

  /** The 64 minhash components with the exact affine coefficients Spark uses. */
  private val mhSigComponents: String =
    (0 until MH_HASHES).map(i =>
      s"list_min(list_transform(h, v -> (v * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinHashP}))")
      .mkString(",\n    ")

  /** Majority-vote simhash as a sum of per-bit terms (bits 60-63 of the 60-bit
    * portable hash are constant zero, so only shifts up to 59 are emitted). */
  private val simhashBitSum: String =
    (0 until 60).map(b =>
      s"(CASE WHEN 2 * len(list_filter(h, v -> ((v >> $b) & 1) = 1)) > len(h) THEN (1::BIGINT << $b) ELSE 0 END)")
      .mkString("\n      + ")

  /** Shared inverse-size language-domain table for the waterfill/epoch
    * queries: (dom, total tokens, weight = 1e6 div #docs) per lang. */
  private def langDomains(s: SparkSession, d: String): DataFrame =
    T(s, d, "documents")
      .groupBy(col("lang").as("dom"))
      .agg(sum(size(split(col("text"), " "))).as("nt"), count(lit(1)).as("nd"))
      .select(col("dom"), col("nt"), expr("1000000 div nd").as("w"))

  /** The ONE DuckDB replay of the 3-round waterfill cascade (inverse-size
    * weights, cap 1500 milli-epochs, budget 27000) ending in `r3(dom, n_tok,
    * wq, cap, alloc)` — shared by q_mixture_waterfill and q_epoch_expand so
    * a change to the round semantics cannot silently diverge the two. */
  /** The 3-round cascade alone, over an in-scope `doms(dom, n_tok, wq)`
    * CTE, ending in `r3` — parameterized so any survivor set can feed it
    * (q_full_recipe runs it over the dedup+quality survivors). */
  private def waterfillCascadeCtes(budget: Long, capMilli: Int): String = {
    def round(prev: String, t: String, r: String) =
      s"""$t AS (SELECT CAST(SUM(CASE WHEN alloc < cap THEN wq END) AS BIGINT)
         |    AS wact, CAST(COALESCE(SUM(alloc), 0) AS BIGINT) AS atot FROM $prev),
         |$r AS (SELECT dom, n_tok, wq, cap, CASE
         |    WHEN wact IS NOT NULL AND wact > 0 AND alloc < cap
         |    THEN LEAST(cap, alloc + (($budget - atot) * wq) // wact)
         |    ELSE alloc END AS alloc FROM $prev CROSS JOIN $t)""".stripMargin
    s"""base AS (SELECT dom, n_tok, wq, (n_tok * $capMilli) // 1000 AS cap,
       |    CAST(0 AS BIGINT) AS alloc FROM doms),
       |${round("base", "t1", "r1")},
       |${round("r1", "t2", "r2")},
       |${round("r2", "t3", "r3")}
       |""".stripMargin
  }

  private val waterfillOracleCtes: String =
    s"""WITH doms AS (SELECT lang AS dom,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok,
       |    CAST(1000000 // COUNT(*) AS BIGINT) AS wq
       |  FROM documents GROUP BY 1),
       |${waterfillCascadeCtes(27000L, 1500)}""".stripMargin

  /** Temperature-rate CTEs (alpha = 0.5, budget 250, lang domains) ending in
    * `r(dom, keep_ppm)` — shared by the batch and streaming mixture oracles. */
  private val tempmixRateCtes: String =
    """WITH c AS (SELECT lang AS dom, COUNT(*) AS n
      |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
      |w AS (SELECT dom, n,
      |    CAST(FLOOR(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
      |      AS wq FROM c),
      |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS tw FROM w),
      |r AS (SELECT dom, CAST(FLOOR(LEAST(1.0,
      |    (CAST(wq AS DOUBLE) * 250.0) /
      |    (CAST(tw AS DOUBLE) * CAST(n AS DOUBLE))) * 16777216.0)
      |    AS BIGINT) AS keep_ppm FROM w CROSS JOIN t)
      |""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // --- text analysis ------------------------------------------------------
    QueryDef("q_text_stats",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          TA.distinctTokenCount(col("text")).cast("long").as("n_distinct"),
          length(col("text")).cast("long").as("n_chars"),
          (length(col("text")) - length(expr("replace(text, ' ', '')")))
            .cast("long").as("n_spaces"))
        .sortBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
             |  CAST(length(text) AS BIGINT) AS n_chars,
             |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // BPE-ish subword token counting (tokenizer-granularity estimate): runs of
    // letters, runs of digits, and every punctuation character as its own token.
    // Spark splits on the boundary regex (empty artifacts filtered); the oracle
    // EXTRACTS the same token language — equivalent counts by construction.
    QueryDef("q_bpe_tokens",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"),
          size(filter(TA.bpeishTokens(col("text")), t => length(t) > 0))
            .cast("long").as("n_bpeish"))
        .sortBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpeish
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // real BPE: the greedy-merge tokenizer (Bpe.train runs at class init on
    // the embedded sample; the corpus-trained path is spec-covered) applied
    // as a literal replace chain — the oracle replays the IDENTICAL chain,
    // generated from the same merge table (Bpe.encodeWordSql)
    QueryDef("q_bpe_real",
      (s, d) => T(s, d, "documents")
        // encode each DISTINCT word once, weight by its corpus frequency:
        // the replace-chain cost scales with |vocabulary|, not corpus size
        // (measured 2.4s → 0.5s at sf0.01; the gap widens with scale)
        .select(explode(split(replace(lower(col("text")), lit(Bpe.Sep), lit("")),
          "\\s+")).as("w"))
        .where_(length(col("w")) > 0)
        .summarize(Seq(col("w")), count(lit(1)).as("wn"))
        .select(explode(Bpe.encodeWord(col("w"))).as("tok"), col("wn"))
        .summarize(Seq(col("tok")), sum(col("wn")).as("n"))
        .top(100, col("n").desc, col("tok")),
      Some(s"""WITH toks AS (
              |  SELECT unnest(flatten(list_transform(
              |    list_filter(string_split_regex(regexp_replace(lower(text), '\\x1f', '', 'g'), '\\s+'),
              |                w -> length(w) > 0),
              |    w -> ${Bpe.encodeWordSql("w")}))) AS tok
              |  FROM documents)
              |SELECT tok, COUNT(*) AS n FROM toks
              |GROUP BY tok ORDER BY n DESC, tok LIMIT 100""".stripMargin)),

    // PII redaction: typed placeholder scrubbing (email/phone/SSN/IP/card)
    // as one fixed-order regexp_replace chain, with per-kind audit counts;
    // the oracle replays the same five regexes + tag counting verbatim.
    // PII is synthesized onto event rows (the fixture corpus has none).
    QueryDef("q_pii_redact",
      (s, d) => T(s, d, "events")
        .where_(col("event_id") % 500 === 0)
        .extend("line" -> concat(
          lit("contact user"), col("user_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("event_id") % 1000).cast("string"), 3, "0"),
          lit("-"),
          lpad((col("event_id") % 10000).cast("string"), 4, "0"),
          lit(" ip 10.0.0."), (col("event_id") % 200).cast("string"),
          lit(" card 4111111111111111 ssn 123-45-6789 done")))
        .extend("red" -> TA.redactPii(col("line")),
          "pc" -> TA.piiCounts(col("line")))
        .project(col("event_id"), col("red"),
          col("pc.email").as("n_email"), col("pc.phone").as("n_phone"),
          col("pc.ssn").as("n_ssn"), col("pc.ip").as("n_ip"),
          col("pc.cardnum").as("n_card"))
        .sortBy(col("event_id")),
      Some("""WITH x AS (
             |  SELECT event_id,
             |    'contact user' || CAST(user_id AS VARCHAR) || '@example.com or 555-' ||
             |    lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') || '-' ||
             |    lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') ||
             |    ' ip 10.0.0.' || CAST(event_id % 200 AS VARCHAR) ||
             |    ' card 4111111111111111 ssn 123-45-6789 done' AS line
             |  FROM events WHERE event_id % 500 = 0),
             |r AS (
             |  SELECT event_id,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(line,
             |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b(?:\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
             |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
             |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             |      '\b[0-9]{13,19}\b', '<CARDNUM>', 'g') AS red
             |  FROM x)
             |SELECT event_id, red,
             |  CAST((length(red) - length(replace(red, '<EMAIL>', ''))) // 7 AS INT) AS n_email,
             |  CAST((length(red) - length(replace(red, '<PHONE>', ''))) // 7 AS INT) AS n_phone,
             |  CAST((length(red) - length(replace(red, '<SSN>', ''))) // 5 AS INT) AS n_ssn,
             |  CAST((length(red) - length(replace(red, '<IP>', ''))) // 4 AS INT) AS n_ip,
             |  CAST((length(red) - length(replace(red, '<CARDNUM>', ''))) // 9 AS INT) AS n_card
             |FROM r ORDER BY event_id""".stripMargin)),

    QueryDef("q_token_freq",
      (s, d) => T(s, d, "documents")
        .mvExpand(TA.tokens(lower(col("text"))), "token")
        .summarize(Seq(col("token")), count(lit(1)).as("n"))
        .top(50, col("n").desc, col("token")),
      Some("""SELECT token, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    // --- exact dedup --------------------------------------------------------
    QueryDef("q_exact_dedup",
      (s, d) => Dedup.duplicateGroups(T(s, d, "documents"), "text", "doc_id")
        .sortBy(col("content_hash")),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
             |  COUNT(*) AS n_dups, MIN(doc_id) AS rep_id
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    QueryDef("q_exact_dedup_keep",
      (s, d) => Dedup.exactDedup(T(s, d, "documents"), "text", "doc_id")
        .project(col("doc_id"), col("lang"), col("source"))
        .sortBy(col("doc_id")),
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source, ROW_NUMBER() OVER (
             |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             |    ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Quality-aware dedup: within each exact-duplicate cluster keep the doc
    // the QUALITY model ranks best (tie → min doc_id) — the usual corpus
    // policy (keep the best copy, not the first) composed from the dedup key
    // and the quality score; one window over the hash-partitioned clusters
    QueryDef("q_exact_dedup_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("content_hash"))
          .orderBy(TA.qualityScore(col("text")).desc, col("doc_id").asc)
        T(s, d, "documents")
          .extend("content_hash" -> md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .project(col("doc_id"), col("lang"), col("source"))
          .sortBy(col("doc_id"))
      },
      Some(s"""WITH m AS (SELECT doc_id, lang, source,
              |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
              |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
              |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist,
              |  CAST(len(list_filter(string_split(lower(text), ' '),
              |    x -> list_contains(${TA.stopwords.mkString("['", "','", "']")}, x))) AS DOUBLE) AS n_stop,
              |  CAST(length(text) AS DOUBLE) AS n_chars,
              |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS n_punct,
              |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit
              |  FROM documents),
              |sc AS (SELECT doc_id, lang, source, h, LEAST(1.0, GREATEST(0.0,
              |  0.35 * (n_dist / GREATEST(n_tok, 1.0))
              |  + 0.25 * LEAST(n_stop / GREATEST(n_tok, 1.0) * 4, 1.0)
              |  + 0.4 * (CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.5 END)
              |  - n_punct / GREATEST(n_chars, 1.0)
              |  - n_digit / GREATEST(n_chars, 1.0))) AS score FROM m)
              |SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source, ROW_NUMBER() OVER (
              |    PARTITION BY h ORDER BY score DESC, doc_id) AS rn FROM sc)
              |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // --- quality scoring (deterministic arithmetic, oracle-matched) ---------
    QueryDef("q_quality",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          TA.stopwordCount(col("text")).cast("long").as("n_stop"))
        .sortBy(col("doc_id")),
      Some(s"""SELECT doc_id,
              |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |  CAST(len(list_filter(string_split(lower(text), ' '),
              |    t -> list_contains(${TA.stopwords.mkString("['", "','", "']")}, t))) AS BIGINT) AS n_stop
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // --- language-ID + quality score (heuristics, but deterministic arithmetic —
    // both fully reproduced in the DuckDB oracle) ----------------------------
    QueryDef("q_langid",
      (s, d) => T(s, d, "documents")
        .extend("predicted" -> TA.languageId(col("text")))
        .summarize(Seq(col("lang"), col("predicted")), count(lit(1)).as("n"))
        .sortBy(col("lang"), col("predicted")),
      Some {
        val langScore = TA.langStopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"  len(list_filter(t, x -> list_contains(${ws.mkString("['", "','", "']")}, x))) AS s_$l"
        }.mkString(",\n")
        val padded = TA.langStopwords.keys.toSeq.sorted.map(l =>
          s"    lpad(CAST(s_$l AS VARCHAR), 8, '0') || '$l'").mkString(",\n")
        s"""WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
           |scores AS (SELECT doc_id, lang,
           |$langScore
           |  FROM toks)
           |SELECT lang, predicted, COUNT(*) AS n FROM (
           |  SELECT lang, substr(greatest(
           |$padded), 9, 2) AS predicted
           |  FROM scores)
           |GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin
      }),

    QueryDef("q_quality_score",
      (s, d) => T(s, d, "documents")
        .extend("score" -> TA.qualityScore(col("text")))
        .project(col("doc_id"), col("score"))
        .sortBy(col("doc_id")),
      Some(s"""WITH m AS (SELECT doc_id,
              |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
              |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_dist,
              |  CAST(len(list_filter(string_split(lower(text), ' '),
              |    x -> list_contains(${TA.stopwords.mkString("['", "','", "']")}, x))) AS DOUBLE) AS n_stop,
              |  CAST(length(text) AS DOUBLE) AS n_chars,
              |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS n_punct,
              |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digit
              |  FROM documents)
              |SELECT doc_id, LEAST(1.0, GREATEST(0.0,
              |  0.35 * (n_dist / GREATEST(n_tok, 1.0))
              |  + 0.25 * LEAST(n_stop / GREATEST(n_tok, 1.0) * 4, 1.0)
              |  + 0.4 * (CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.5 END)
              |  - n_punct / GREATEST(n_chars, 1.0)
              |  - n_digit / GREATEST(n_chars, 1.0))) AS score
              |FROM m ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition filters: per-document duplicate-token /
    // top-token / top-bigram / duplicate-bigram fractions — the drop signals
    // of a training-data quality pass. Mode multiplicities come from one
    // sorted-array run-length pass per row (no explode, no shuffle); the
    // oracle recomputes them with unnest+group+max.
    QueryDef("q_repetition",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"), TA.tokens(col("text")).as("toks"))
        .extend("m" -> TA.repetitionMetrics(col("toks")))
        .project(col("doc_id"), col("m.n_tokens").as("n_tokens"),
          col("m.dup_token_fraction").as("dup_token_fraction"),
          col("m.top_token_fraction").as("top_token_fraction"),
          col("m.top_bigram_fraction").as("top_bigram_fraction"),
          col("m.dup_bigram_fraction").as("dup_bigram_fraction"))
        .sortBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |tok AS (SELECT doc_id, u.x FROM t, UNNEST(l) AS u(x)),
             |tc AS (SELECT doc_id, MAX(c) AS topc FROM (
             |  SELECT doc_id, x, COUNT(*) AS c FROM tok GROUP BY 1, 2) GROUP BY 1),
             |bg AS (SELECT doc_id,
             |  list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1]) AS b
             |  FROM t),
             |bgu AS (SELECT doc_id, u.x FROM bg, UNNEST(b) AS u(x)),
             |bc AS (SELECT doc_id, MAX(c) AS topb FROM (
             |  SELECT doc_id, x, COUNT(*) AS c FROM bgu GROUP BY 1, 2) GROUP BY 1)
             |SELECT t.doc_id,
             |  CAST(len(l) AS BIGINT) AS n_tokens,
             |  CAST(len(l) - len(list_distinct(l)) AS DOUBLE) /
             |    CAST(GREATEST(len(l), 1) AS DOUBLE) AS dup_token_fraction,
             |  CAST(tc.topc AS DOUBLE) / CAST(GREATEST(len(l), 1) AS DOUBLE)
             |    AS top_token_fraction,
             |  CAST(bc.topb AS DOUBLE) / CAST(GREATEST(len(b), 1) AS DOUBLE)
             |    AS top_bigram_fraction,
             |  CAST(len(b) - len(list_distinct(b)) AS DOUBLE) /
             |    CAST(GREATEST(len(b), 1) AS DOUBLE) AS dup_bigram_fraction
             |FROM t JOIN tc USING (doc_id) JOIN bg USING (doc_id)
             |  JOIN bc USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Benchmark-contamination check: distinct token-trigram overlap between
    // each document and a probe set of benchmark phrases. A bounded probe set
    // compiles to a literal array — array_intersect per row, zero shuffles,
    // scan-side at any corpus size; a corpus-scale probe set would flip to
    // the explode + broadcast-join form of the full-text index instead.
    QueryDef("q_contamination",
      (s, d) => {
        val probes = Seq("table value part", "fast spark a", "key agg row",
          "batch window spark", "data column agg", "zz absent phrase")
        T(s, d, "documents")
          .project(col("doc_id"), TA.tokens(col("text")).as("toks"))
          .project(col("doc_id"), TA.shingleStats(col("toks"), probes, 3).as("st"))
          .project(col("doc_id"),
            col("st.hits").as("hits"),
            (col("st.hits").cast("double") /
              greatest(col("st.nsh"), lit(1L)).cast("double")).as("frac"))
          .where_(col("hits") > 0)
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |    range(1, len(l) - 1),
             |    i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS s
             |  FROM t),
             |c AS (SELECT doc_id,
             |    len(list_intersect(s, ['table value part', 'fast spark a',
             |      'key agg row', 'batch window spark', 'data column agg',
             |      'zz absent phrase'])) AS hits,
             |    len(s) AS n
             |  FROM sh)
             |SELECT doc_id, CAST(hits AS BIGINT) AS hits,
             |  CAST(hits AS DOUBLE) / CAST(GREATEST(n, 1) AS DOUBLE) AS frac
             |FROM c WHERE hits > 0 ORDER BY doc_id""".stripMargin)),

    QueryDef("q_fingerprint",
      (s, d) => T(s, d, "documents")
        .project(col("doc_id"), TA.fingerprint(col("text")).as("fp"))
        .summarize(Seq(col("fp")), count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
        .sortBy(col("fp")),
      Some("""WITH f AS (
             |  SELECT doc_id, list_reduce(
             |    list_prepend(CAST(7919 AS BIGINT),
             |      list_transform(string_split(lower(trim(text)), ' '),
             |        t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
             |               list_transform(generate_series(1, 15), i ->
             |                 CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT))),
             |             (a, d) -> a * 16 + d) % 4294967296)),
             |    (acc, h) -> (acc * 31 + h) % 1099511627776) AS fp
             |  FROM documents)
             |SELECT fp, COUNT(*) AS n, MIN(doc_id) AS rep
             |FROM f GROUP BY fp ORDER BY fp""".stripMargin)),

    // --- near-dedup (sketch-based, FULLY oracle-checked) --------------------
    // Every hash in the sketch pipelines is the portable md5-based hash
    // (Dedup.portableHash60), so DuckDB reproduces the signatures / simhash bits
    // verbatim and brute-forces the ground truth over ALL pairs — precision AND
    // recall are checked, with no planting needed: the fixture corpus itself
    // contains exactly 25 near-dup pairs at 3-shingle Jaccard >= 0.9 and nothing
    // else above 0.2 (measured), a gap both thresholds sit inside.
    QueryDef("q_minhash_pairs",
      (s, d) => neardupPairs(s, d)
        .sortBy(col("id_a"), col("id_b")),
      // The oracle recomputes the EXACT 64-component signatures (same md5-derived
      // shingle hashes, same affine coefficients) and estimates Jaccard over all
      // pairs by brute force; Spark's banded LSH must surface every pair whose
      // estimate clears the threshold. est = matches/64 is a power-of-two division
      // of identical integers — bit-exact across engines.
      Some(s"""$shingleHashCtes,
              |sig AS (SELECT doc_id, [
              |    $mhSigComponents] AS sig FROM h)
              |SELECT id_a, id_b, est AS est_jaccard FROM (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    CAST(len(list_filter(generate_series(1, $MH_HASHES),
              |      i -> a.sig[i] = b.sig[i])) AS DOUBLE) / $MH_HASHES AS est
              |  FROM sig a, sig b WHERE a.doc_id < b.doc_id)
              |WHERE est >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // --- near-dup CLUSTERING: connected components over the minhash pairs,
    // then keep-one-per-cluster — the dedup-pipeline tail. Oracle replays the
    // closure as a recursive min-reachable-id CTE over the exact-signature
    // pair set, so cluster assignments are hash-compared, not just counted.
    QueryDef("q_near_dedup_clusters",
      (s, d) => ccLabels(s, d)
        .summarize(Seq(col("cluster")), count(lit(1)).as("sz"))
        .where_(col("sz") > 1)
        .sortBy(col("cluster")),
      Some(ccOracleCtes +
        """SELECT cluster, COUNT(*) AS sz FROM clabels
          |GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY cluster""".stripMargin)),

    QueryDef("q_near_dedup_keep",
      (s, d) => ccLabels(s, d)
        .summarize(Nil, countDistinct(col("cluster")).as("n_kept"),
          count(lit(1)).as("n_docs")),
      Some(ccOracleCtes +
        """SELECT COUNT(DISTINCT cluster) AS n_kept, COUNT(*) AS n_docs
          |FROM clabels""".stripMargin)),

    // Leakage-free train/val split: assign documents to splits by the hash
    // of their NEAR-DUP CLUSTER label, not their own id — a doc and all its
    // near-duplicates land on the same side by construction, so the val set
    // cannot be contaminated by a training-set paraphrase. cross_pairs
    // (near-dup pairs straddling the split) is computed and must be 0 —
    // the property is in the OUTPUT, not just asserted. Naive id-hash
    // splitting breaks exactly this.
    QueryDef("q_leakfree_split",
      (s, d) => {
        val labels = ccLabels(s, d)
        // 10% val: hash24(cluster) < floor(0.1 * 2^24)
        val split = labels.select(col("id"), col("cluster"),
          when(graft.functions.Sampling.hash24(col("cluster")) < 1677721L,
            "val").otherwise("train").as("split"))
        val pairs = neardupPairs(s, d)
        val cross = pairs
          .join(split.select(col("id").as("id_a"), col("split").as("sa")), "id_a")
          .join(split.select(col("id").as("id_b"), col("split").as("sb")), "id_b")
          .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
            lit(0L)).as("cross_pairs"))
        split.groupBy("split")
          .agg(countDistinct("cluster").as("n_clusters"),
            count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(cross))
          .sortBy(col("split"))
      },
      Some(ccOracleCtes +
        """, sp AS (SELECT id, cluster,
          |    CASE WHEN ('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 6))::BIGINT
          |      < 1677721 THEN 'val' ELSE 'train' END AS split FROM clabels),
          |cx AS (SELECT CAST(COALESCE(SUM(
          |    CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT)
          |    AS cross_pairs
          |  FROM cpairs p JOIN sp a ON p.id_a = a.id JOIN sp b ON p.id_b = b.id)
          |SELECT split, CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
          |  COUNT(*) AS n_docs, cross_pairs
          |FROM sp CROSS JOIN cx GROUP BY split, cross_pairs
          |ORDER BY split""".stripMargin)),

    // Corpus duplication profile — the "how duplicated is this corpus"
    // diagnostic run before choosing dedup aggressiveness: over all k-token
    // spans, the count of distinct spans, spans repeated at all, spans
    // shared ACROSS documents, total instances, the hottest span's
    // frequency, and the repeated-span ratio in ppm. One explode + one
    // two-level aggregate; every stat is an integer.
    QueryDef("q_dup_profile",
      (s, d) => {
        val k = 5
        val spans = T(s, d, "documents")
          .select(col("doc_id"),
            explode(Dedup.spanHashes(TA.tokens(lower(col("text"))), k)).as("sp"))
          .select(col("doc_id"), col("sp.h").as("h"))
        val per = spans.groupBy("h").agg(
          countDistinct("doc_id").as("nd"), count(lit(1)).as("ni"))
        per.agg(count(lit(1)).as("n_spans"),
            sum(when(col("ni") > 1, 1L).otherwise(0L)).as("n_repeated"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_cross_doc"),
            sum(col("ni")).as("n_instances"),
            max(col("ni")).as("max_freq"))
          .select(col("n_spans"), col("n_repeated"), col("n_cross_doc"),
            col("n_instances"), col("max_freq"),
            expr("(n_repeated * 1000000) div n_spans").as("dup_ppm"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |sp AS (
             |  SELECT doc_id,
             |    ('0x' || substr(md5(array_to_string(t[pos+1 : pos+5], ' ')), 1, 15))::BIGINT AS h
             |  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS pos
             |        FROM toks WHERE len(t) >= 5)),
             |g AS (SELECT h, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS ni
             |  FROM sp GROUP BY h)
             |SELECT CAST(COUNT(*) AS BIGINT) AS n_spans,
             |  CAST(SUM(CASE WHEN ni > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
             |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc,
             |  CAST(SUM(ni) AS BIGINT) AS n_instances,
             |  CAST(MAX(ni) AS BIGINT) AS max_freq,
             |  CAST((SUM(CASE WHEN ni > 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
             |    AS BIGINT) AS dup_ppm
             |FROM g ORDER BY n_spans""".stripMargin)),

    QueryDef("q_simhash_pairs",
      (s, d) => Dedup.simHashNearDupPairs(T(s, d, "documents"), "text", "doc_id",
          maxHamming = 8)
        .project(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .sortBy(col("id_a"), col("id_b")),
      // Full brute-force oracle: DuckDB recomputes the 64-bit simhash (majority
      // vote over the portable per-token hashes; bits 60-63 are constant zero so
      // only shifts up to 59 occur — no BIGINT shift overflow) and emits every
      // pair within hamming <= 8. The Spark pipeline's chunk blocking is
      // pigeonhole-exact within the bound, so the sets must match exactly.
      Some(s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              |h AS (SELECT doc_id, list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h FROM toks),
              |sim AS (SELECT doc_id,
              |    $simhashBitSum AS sim FROM h)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
              |FROM sim a, sim b
              |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 8
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q_ngram_jaccard",
      (s, d) => {
        // verify the SHARED MinHash candidate set with exact n-gram Jaccard: the
        // shingle sets are recomputed only for the (few) candidate pair ids, and the
        // candidate pipeline itself is the persisted one q_minhash_pairs uses.
        // The semi-join against the candidate ids comes FIRST, so the interpreted
        // shingle HOF runs over only the candidate docs, not the whole corpus
        // (the ids side is tiny and broadcasts; one corpus scan, no wide shuffle).
        val candIds = minhashCands(s, d).select(col("id_a").as("doc_id"))
          .union(minhashCands(s, d).select(col("id_b").as("doc_id"))).distinct()
        val docs = T(s, d, "documents")
          .join(broadcast(candIds), Seq("doc_id"), "leftsemi")
          .project(col("doc_id"), TA.tokens(lower(col("text"))).as("__toks"))
          .project(col("doc_id"), TA.shinglesOf(col("__toks"), 3).as("sh"))
        minhashCands(s, d)
          .joinKql(docs.project(col("doc_id").as("id_a"), col("sh").as("sh_a")),
            Seq("id_a"), "inner")
          .joinKql(docs.project(col("doc_id").as("id_b"), col("sh").as("sh_b")),
            Seq("id_b"), "inner")
          .extend("jaccard" -> Dedup.ngramJaccard(col("sh_a"), col("sh_b")))
          .where_(col("jaccard") >= 0.5)
          .project(col("id_a"), col("id_b"), col("jaccard"))
          .sortBy(col("id_a"), col("id_b"))
      },
      // Exact-Jaccard ground truth over ALL pairs; Spark computes it only for
      // LSH candidates, so a recall loss in candidate generation (a true pair
      // never surfaced) reddens this row. Formulated as an explode + equi-join
      // intersection count (not per-pair list scans): |∩| from the shingle
      // self-join, |∪| = |a| + |b| − |∩| — exhaustive (a pair absent from the
      // join has |∩| = 0 < threshold) and ~700× faster than the nested-loop
      // form at sf0.1. Same integers ⇒ same double division as Spark.
      Some(s"""$shingleHashCtes,
              |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |lens AS (SELECT doc_id, len(sh) AS l FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
              |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
              |SELECT id_a, id_b, j AS jaccard FROM (
              |  SELECT id_a, id_b, CAST(c AS DOUBLE) / (la.l + lb.l - c) AS j
              |  FROM inter JOIN lens la ON la.doc_id = id_a JOIN lens lb ON lb.doc_id = id_b)
              |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // --- embedding similarity ----------------------------------------------
    QueryDef("q_cosine_topk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        Similarity.bruteForceTopK(
            emb.where_(col("vec_id") < 5).projectRename("query_id" -> "vec_id"),
            emb.projectRename("corpus_id" -> "vec_id"),
            k = 10)
          .project(col("query_id"), col("corpus_id"), col("rank"))
          .sortBy(col("query_id"), col("rank"))
      },
      Some("""SELECT query_id, corpus_id, CAST(rank AS INT) AS rank FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
             |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
             |  FROM embeddings q, embeddings c
             |  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // LSH ANN, oracle-checked by construction: the query emits per-query recall@10 of
    // the LSH result against the in-Spark exact result, asserted ≥ 0.5. LSH is fully
    // deterministic (seeded hyperplanes), so on fixed fixture data the booleans are
    // stable — a regression in the LSH pipeline flips them and reddens the row.
    QueryDef("q_cosine_topk_lsh",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val q = emb.where_(col("vec_id") < 5).projectRename("query_id" -> "vec_id")
        val c = emb.projectRename("corpus_id" -> "vec_id")
        val exact = Similarity.bruteForceTopK(q, c, k = 10)
          .project(col("query_id"), col("corpus_id"))
        val approx = Similarity.lshTopK(q, c, k = 10, dim = EMB_DIM)
          .project(col("query_id"), col("corpus_id"))
        approx.joinKql(exact.extend("hit" -> lit(1)),
            Seq("query_id", "corpus_id"), "leftouter")
          .summarize(Seq(col("query_id")), sum(coalesce(col("hit"), lit(0))).as("n_hits"))
          .project(col("query_id"), (col("n_hits") >= 5).as("recall_ok"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id AS query_id, true AS recall_ok FROM embeddings
             |WHERE vec_id < 5 ORDER BY query_id""".stripMargin)),

    // IVF inverted-list ANN (the second scale path beside sign-LSH), mechanism-
    // checked with planted queries: each query is a perturbed copy of a corpus
    // vector (+0.02 per component, cosine vs original ≈ 0.997 while the max
    // natural pair is ≈ 0.51), so the IVF search — probe nearest centroid lists,
    // score only those lists — must return the original as the top-1 neighbor
    // for every planted query. A missed probe or broken list join reddens it.
    QueryDef("q_cosine_topk_ivf",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val centroids = ivfModel(s, d, corpus)
        Similarity.ivfTopK(queries, corpus, k = 1, dim = EMB_DIM,
          trained = Some(centroids))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // PQ (product-quantization) ANN, mechanism-checked like IVF: planted
    // perturbed-copy queries (true cosine ≈ 0.997 vs ≈ 0.51 natural max) must
    // come back as top-1 through the full PQ pipeline — encode corpus to 8
    // subspace codes, ADC-score every code via the query's lookup table,
    // shortlist 32, exact re-rank. A broken codebook, LUT, or shortlist
    // boundary reddens the row.
    QueryDef("q_cosine_topk_pq",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val books = pqModel(s, d, corpus)
        Similarity.pqTopK(queries, corpus, k = 1, dim = EMB_DIM,
          trained = Some(books))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // IVF-PQ composed ANN (the Faiss IVFPQ architecture — the 100 TB serving
    // shape): IVF lists bound the candidate set, PQ codes ADC-score ONLY the
    // probed lists' members (M table lookups each, no float vector in the
    // scan), exact re-rank on the shortlist. Same planted-pair mechanism
    // contract as the IVF and PQ rows — a missed probe, broken list join,
    // codebook drift, or shortlist boundary error reddens it. Both trained
    // models ride the shared session caches.
    QueryDef("q_cosine_topk_ivfpq",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val cents = ivfModel(s, d, corpus)
        val books = pqModel(s, d, corpus)
        Similarity.ivfPqTopK(queries, corpus, k = 1, dim = EMB_DIM,
          trainedIvf = Some(cents), trainedPq = Some(books))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // STORED ANN index (Similarity.writeIndex/indexTopK): the IVF-PQ index
    // persisted as __cid-PARTITIONED parquet — inverted lists ARE
    // partitions, so probing is partition PRUNING on an ordinary table
    // scan (plan-asserted in PlanAuditSpec), models reopen from parquet,
    // and the exact re-rank reads full vectors from the payload table for
    // shortlist rows only (the standard two-tier serving architecture).
    // Write-once / read-many: the build is memoized per (session, sf) — the
    // timed body is the SERVE path (the q_variant_stored discipline). Same
    // planted-pair mechanism contract as the other ANN rows.
    QueryDef("q_ann_index_stored",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopK(s, dir, queries, corpus, k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Near-dup detection, oracle-checked: the fixture has no natural near-dups (max
    // pairwise cosine ≈ 0.51), so both engines plant the same deterministic perturbed
    // copies (vec_id+1000000, each component +0.02) and must find exactly those pairs
    // at threshold 0.9 — DuckDB by brute force, Spark via the LSH pipeline (recall
    // loss would redden the row; multi-table miss probability ~1e-5/pair).
    QueryDef("q_embedding_neardup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val planted = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.cosineNearDupPairs(emb.project(col("vec_id"), col("embedding"))
            .unionKql(planted), "vec_id", "embedding", EMB_DIM, threshold = 0.9)
          .project(col("id_a"), col("id_b"))
          .sortBy(col("id_a"), col("id_b"))
      },
      Some("""WITH all_vecs AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 1000000, list_transform(embedding, x -> x + 0.02::FLOAT)
             |  FROM embeddings WHERE vec_id < 25)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM all_vecs a, all_vecs b
             |WHERE a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup (semantic dedup): near-dups by EMBEDDING cosine inside coarse
    // IVF clusters — the paraphrase-catching complement of MinHash. Same
    // planted-fixture contract as the ANN rows: no natural pair reaches
    // tau=0.9 (max ≈ 0.51), every perturbed copy (cos ≈ 0.997 vs its
    // original, which carries the smaller id) must be REMOVED and every
    // original KEPT — a missed cluster meet or broken keep-first rule
    // reddens the row. Own cached model at 64 centroids: within-cluster
    // pair work is quadratic in cluster SIZE, so the cluster count grows
    // with the corpus (k ∝ n keeps cluster size and the per-row pair
    // budget constant — the SemDeDup posture; measured in SCALE.md) — 16
    // coarse ANN-style lists measured 1.44 s vs 0.98 s at 64 on sf0.1.
    QueryDef("q_semantic_dedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val planted = emb.where_(col("vec_id") < 40)
          .project((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val centroids = semdedupModel(s, d, emb)
        Similarity.semDedup(
          emb.project(col("vec_id"), col("embedding")).unionKql(planted),
          "vec_id", "embedding", EMB_DIM, tau = 0.9,
          trained = Some(centroids))
          .sortBy(col("vec_id"))
      },
      Some("""SELECT vec_id, false AS removed FROM embeddings
             |UNION ALL
             |SELECT vec_id + 1000000 AS vec_id, true AS removed
             |FROM embeddings WHERE vec_id < 40
             |ORDER BY vec_id""".stripMargin)),

    // SemDeDup at LARGE k (> 10⁴ centroids): the same planted-pair contract
    // as q_semantic_dedup, but the trained 64-centroid model is padded with
    // 10176 far-away decoy centroids (every component 1000 — the |c|²/2
    // bias ≈ 3.2e7 dwarfs any v·c on unit-scale fixture vectors, so a decoy
    // can never enter a probe set and the ANSWER is identical). What changes
    // is the WORK: the assignment kernel (the same one projection as at
    // k = 64) prunes whole decoy groups by its bounds — plan size stays
    // k-independent, the k ∝ n posture (the 100 TB path; SCALE.md).
    QueryDef("q_semantic_dedup_bigk",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val planted = emb.where_(col("vec_id") < 40)
          .project((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val real = semdedupModel(s, d, emb)
        val decoys = Array.tabulate(10176, EMB_DIM)((i, j) =>
          1000f + ((i + j) % 7).toFloat)
        Similarity.semDedup(
          emb.project(col("vec_id"), col("embedding")).unionKql(planted),
          "vec_id", "embedding", EMB_DIM, tau = 0.9,
          trained = Some(real ++ decoys))
          .sortBy(col("vec_id"))
      },
      Some("""SELECT vec_id, false AS removed FROM embeddings
             |UNION ALL
             |SELECT vec_id + 1000000 AS vec_id, true AS removed
             |FROM embeddings WHERE vec_id < 40
             |ORDER BY vec_id""".stripMargin)),

    // SemDeDup through the TWO-LEVEL (hierarchical √k) assignment at the
    // same k > 10⁴: per-row assignment cost drops from k dots to
    // ~(1+groupProbe)·√k — the documented fix for the regime where k ∝ n
    // makes even flat assignment the n·k bottleneck. Assignment is
    // recall-approximate vs flat in general, but the planted-pair contract
    // is UNCHANGED: an ε-perturbed copy computes the same super-cluster
    // probes as its original (margin ≫ ε) and the far-away decoy groups
    // can never outscore a real-region group, so copy and original still
    // meet and the oracle is identical.
    QueryDef("q_semantic_dedup_hier",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val planted = emb.where_(col("vec_id") < 40)
          .project((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val real = semdedupModel(s, d, emb)
        val decoys = Array.tabulate(10176, EMB_DIM)((i, j) =>
          1000f + ((i + j) % 7).toFloat)
        Similarity.semDedup(
          emb.project(col("vec_id"), col("embedding")).unionKql(planted),
          "vec_id", "embedding", EMB_DIM, tau = 0.9,
          trained = Some(real ++ decoys), hierAssign = true)
          .sortBy(col("vec_id"))
      },
      Some("""SELECT vec_id, false AS removed FROM embeddings
             |UNION ALL
             |SELECT vec_id + 1000000 AS vec_id, true AS removed
             |FROM embeddings WHERE vec_id < 40
             |ORDER BY vec_id""".stripMargin)),

    // --- ingest/compaction correctness: the actual segment WRITE path (mandatory
    // _ts/_dedup validation, day-bucketed time partitioning, sort-on-write, bloom
    // filters) run end-to-end — a batch appended twice (client resubmission), then
    // merge-dedup compacted; counts must match what the oracle derives from the
    // source table alone. Idempotent: the scratch dir is wiped per invocation. ----
    // Salted join under engineered 80%-hot-key skew (Skew.saltedJoin): the
    // big side sprays the hot key across 8 salts, the dimension replicates
    // ×8, the join key becomes (key, salt) — result EXACTLY the plain join
    // (the oracle), which is the point: same answer, no single-task hot
    // partition. AQE's sort-merge skew split is the no-code default; this
    // is the pattern for hash/stateful shapes it can't touch.
    QueryDef("q_salted_join",
      (s, d) => {
        val big = T(s, d, "events")
          .extend("k" -> when(col("event_id") % 10 < 8, lit(4L))
            .otherwise(col("event_id") % 100))
        val dim = T(s, d, "nation")
          .project((col("n_nationkey") * 4).cast("long").as("k"),
            col("n_name").as("name"))
        graft.functions.Skew.saltedJoin(big, dim, Seq("k"), salts = 8)
          .summarize(Seq(col("k"), col("name")),
            count(lit(1)).as("n"), sum(col("user_id")).as("su"))
          .sortBy(col("k"))
      },
      Some("""WITH big AS (SELECT CASE WHEN event_id % 10 < 8 THEN 4
             |    ELSE event_id % 100 END AS k, user_id FROM events),
             |dim AS (SELECT CAST(n_nationkey * 4 AS BIGINT) AS k,
             |    n_name AS name FROM nation)
             |SELECT b.k AS k, d.name AS name, COUNT(*) AS n,
             |  CAST(SUM(b.user_id) AS BIGINT) AS su
             |FROM big b JOIN dim d ON d.k = b.k
             |GROUP BY 1, 2 ORDER BY k""".stripMargin)),

    QueryDef("q_ingest_compact",
      (s, d) => {
        val root = s"/tmp/graft_ingest/${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        val seg = s"$root/segments"; val compacted = s"$root/compacted"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val batch = T(s, d, "events").where_(col("user_id") < 20)
          .project(col("ts").as("_ts"), (col("event_id") % 1000).cast("int").as("_dedup"),
            col("event_type"), col("value"))
        Tables.appendSegment(batch, seg, bloomCols = Seq("event_type"))
        Tables.appendSegment(batch, seg, bloomCols = Seq("event_type")) // resubmission
        Tables.compact(s, seg, compacted)
        val raw = s.read.parquet(seg)
        val comp = s.read.parquet(compacted)
        raw.summarize(Nil, count(lit(1)).as("n_raw"))
          .crossJoin(comp.summarize(Nil, count(lit(1)).as("n_compacted")))
          .extend("time_partitioned" ->
            lit(raw.columns.contains("ts_bucket") && comp.columns.contains("ts_bucket")))
          .project(col("n_raw"), col("n_compacted"), col("time_partitioned"))
      },
      Some("""WITH b AS (SELECT ts, event_id % 1000 AS dd FROM events WHERE user_id < 20)
             |SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_raw,
             |  CAST(COUNT(DISTINCT (ts, dd)) AS BIGINT) AS n_compacted,
             |  true AS time_partitioned
             |FROM b""".stripMargin)),

    // --- effective-schema merge in CORRECTNESS: two segments of the same table
    // written with CONFLICTING schemas (int vs double value column, a column added
    // later) — the reference's backward-incompatible evolution (`README.md:14`).
    // loadMerged must resolve to the widest types and null-fill, and the aggregate
    // over the merged view must reconcile with the oracle's single-source view. ----
    QueryDef("q_schema_merge",
      (s, d) => {
        val root = s"/tmp/graft_schema/${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        val e = T(s, d, "events")
        // old segment: value stored as int, no source column
        e.where_(col("user_id") % 2 === 0)
          .project(col("event_id"), col("event_type"),
            floor(col("value")).cast("int").as("value"))
          .write.parquet(s"$root/seg1")
        // new segment: value as double, added source column
        e.where_(col("user_id") % 2 === 1)
          .project(col("event_id"), col("event_type"),
            floor(col("value")).cast("double").as("value"), lit("v2").as("source"))
          .write.parquet(s"$root/seg2")
        Tables.loadMerged(s, Seq(s"$root/seg1", s"$root/seg2"))
          .summarize(Seq(col("event_type")),
            count(lit(1)).as("n"),
            sum(col("value").cast("long")).as("sum_floor"),
            count(col("source")).as("n_with_source"))
          .sortBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor,
             |  CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- streaming dedup in CORRECTNESS: the events stream unioned with itself
    // (total client resubmission), watermark-bounded dropDuplicates on
    // (ts, event_id); the deduped row count must equal the source cardinality. ----
    QueryDef("q_streaming_dedup",
      (s, d) => {
        val in = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .select(col("ts"), col("event_id"), col("event_type"))
        val resubmitted = in.unionByName(in)
        val deduped = graft.streaming.StreamingIngest
          .dedupStream(resubmitted, "ts", "event_id")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_dedup_sink", deduped)
          .summarize(Seq(col("event_type")), count(lit(1)).as("n"))
          .sortBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // --- streaming correctness: the events table replayed through Structured
    // Streaming (AvailableNow micro-batches, stateful agg, complete-mode memory
    // sink) must produce exactly the batch answer — oracle-checked in DuckDB like
    // every batch query. This is the one row that executes the streaming engine
    // inside CORRECTNESS rather than only in unit tests. ----------------------
    QueryDef("q_streaming_bin",
      (s, d) => {
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .withColumn("bin_ts", graft.kql.Kql.Bin.ts(col("ts"), 21600))
          .groupBy(col("bin_ts"), col("event_type"))
          .agg(count(lit(1)).as("n"), sum(floor(col("value")).cast("long")).as("sv"))
        graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_bin_sink", stream)
          .sortBy(col("bin_ts"), col("event_type"))
      },
      Some("""SELECT TIMESTAMP '1970-01-01 00:00:00'
             |    + INTERVAL (CAST((epoch_us(ts)//1000000)//21600*21600 AS BIGINT)) SECOND AS bin_ts,
             |  event_type, COUNT(*) AS n, CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sv
             |FROM events GROUP BY 1, 2 ORDER BY bin_ts, event_type""".stripMargin)),

    // --- streaming × sketch composition: windowed distinct users via the
    // MERGEABLE HLL sketch aggregate under real micro-batch execution — the
    // shape that survives 100 TB streams (per-batch partial sketches merge
    // in state; no distinct-set blowup). lgK 14 makes the estimate exact at
    // fixture cardinalities (the q_dcount_hll margin convention), so the
    // oracle states plain COUNT(DISTINCT). -----------------------------------
    QueryDef("q_streaming_hll",
      (s, d) => {
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .withColumn("bin_ts", graft.kql.Kql.Bin.ts(col("ts"), 43200))
          .groupBy(col("bin_ts"))
          .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
            count(lit(1)).as("n"))
        graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_hll_sink", stream)
          .select(col("bin_ts"), col("n"),
            hll_sketch_estimate(col("sk")).as("du"))
          .sortBy(col("bin_ts"))
      },
      Some("""SELECT TIMESTAMP '1970-01-01 00:00:00'
             |    + INTERVAL (CAST((epoch_us(ts)//1000000)//43200*43200 AS BIGINT)) SECOND AS bin_ts,
             |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS du
             |FROM events GROUP BY 1 ORDER BY bin_ts""".stripMargin)),

    // --- streaming windowed top-hitters: the SpaceSaving sketch as a
    // STREAMING state aggregate (mergeable partial maps through the state
    // store), per 12h window. Tracked key cardinality (user_id % 40) is
    // below the sketch capacity 64, so no eviction can occur and every
    // counter is EXACT by construction — the oracle's per-window top-3 is
    // deterministic; the lossy-eviction path is property-tested in
    // FrequentItemsSpec. 100 TB posture: bounded state per window
    // (capacity entries), no per-key shuffle of the raw stream past the
    // partial sketches. ------
    QueryDef("q_streaming_tophitters",
      (s, d) => {
        val ss = udaf(new graft.functions.FrequentItems.SpaceSavingAgg(64),
          org.apache.spark.sql.Encoders.STRING)
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .withColumn("bin_ts", graft.kql.Kql.Bin.ts(col("ts"), 43200))
          .groupBy(col("bin_ts"))
          .agg(ss((col("user_id") % 40).cast("string")).as("m"))
        val sunk = graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_tophitters_sink", stream)
        // cast the sketch's string key BEFORE the rank window — the
        // count-tie break must be numeric, not lexicographic
        val counts = sunk.select(col("bin_ts"),
          explode(col("m")).as(Seq("us", "c")))
          .select(col("bin_ts"), col("us").cast("long").as("u"), col("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bin_ts").orderBy(col("c").desc, col("u").asc)
        counts.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select(col("bin_ts"), col("rk"), col("u"), col("c"))
          .sortBy(col("bin_ts"), col("rk"))
      },
      Some("""WITH b AS (SELECT TIMESTAMP '1970-01-01 00:00:00'
             |    + INTERVAL (CAST((epoch_us(ts)//1000000)//43200*43200 AS BIGINT)) SECOND AS bin_ts,
             |    user_id % 40 AS u FROM events),
             |c AS (SELECT bin_ts, u, COUNT(*) AS c FROM b GROUP BY bin_ts, u),
             |r AS (SELECT bin_ts, u, c,
             |    ROW_NUMBER() OVER (PARTITION BY bin_ts ORDER BY c DESC, u ASC) AS rk
             |  FROM c)
             |SELECT bin_ts, CAST(rk AS INT) AS rk, u, c FROM r WHERE rk <= 3
             |ORDER BY bin_ts, rk""".stripMargin)),

    // --- stream-stream interval join in CORRECTNESS: views joined to the
    // same user's purchases within the following hour (funnel attribution),
    // both sides watermarked so join state is evictable; the bounded replay
    // fits one micro-batch, so the result equals the batch interval join the
    // oracle computes. Aggregation happens on the (static) sink output. ------
    QueryDef("q_streaming_join",
      (s, d) => {
        val views = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
            col("event_id").as("v_id"))
        val purchases = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
        val joined = graft.streaming.StreamingIngest.intervalJoin(
          views, purchases, "v_user", "p_user", "v_ts", "p_ts", "1 hour")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_join_sink", joined)
          .summarize(Seq((col("v_user") % 10).as("bucket")),
            count(lit(1)).as("n"), countDistinct(col("v_id")).as("nv"),
            countDistinct(col("p_id")).as("np"))
          .sortBy(col("bucket"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
             |SELECT v.user_id % 10 AS bucket, COUNT(*) AS n,
             |  COUNT(DISTINCT v.event_id) AS nv, COUNT(DISTINCT p.event_id) AS np
             |FROM v JOIN p ON v.user_id = p.user_id
             |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Stream-stream LEFT OUTER interval join: unmatched left rows emit with
    // nulls only once the watermark proves no match can still arrive. The
    // GLOBAL watermark is the MINIMUM across both input streams (each
    // ms-truncated max event time − lateness) — a lagging side holds back
    // outer-row emission for the whole join, so unmatched views whose match
    // window reaches past min(maxViewTs, maxPurchaseTs) − 10 min stay
    // suppressed at stream end. The oracle replays exactly that eviction
    // rule; state-boundedness is the same argument as the inner form's.
    QueryDef("q_streaming_join_outer",
      (s, d) => {
        val views = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
            col("event_id").as("v_id"))
        val purchases = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("event_id").as("p_id"))
        val joined = graft.streaming.StreamingIngest.intervalJoin(
          views, purchases, "v_user", "p_user", "v_ts", "p_ts", "1 hour",
          joinType = "left_outer")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_join_outer_sink", joined)
          .summarize(Seq((col("v_user") % 10).as("bucket")),
            count(lit(1)).as("n"), count(col("p_id")).as("matched"),
            sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("unmatched"))
          .sortBy(col("bucket"))
      },
      Some("""WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
             |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
             |wm AS (SELECT LEAST(
             |    (SELECT date_trunc('millisecond', MAX(ts)) FROM v),
             |    (SELECT date_trunc('millisecond', MAX(ts)) FROM p))
             |    - INTERVAL 10 MINUTE AS w),
             |j AS (SELECT v.user_id AS vu, v.ts AS vts, p.event_id AS pid
             |  FROM v LEFT JOIN p ON v.user_id = p.user_id
             |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR),
             |f AS (SELECT j.* FROM j, wm
             |  WHERE pid IS NOT NULL OR vts + INTERVAL 1 HOUR < w)
             |SELECT vu % 10 AS bucket, COUNT(*) AS n,
             |  CAST(COUNT(pid) AS BIGINT) AS matched,
             |  CAST(COUNT(*) FILTER (WHERE pid IS NULL) AS BIGINT) AS unmatched
             |FROM f GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // STREAMING GEOFENCING: the point stream enriched with the containing
    // polygon via the geo_polygon_lookup engine — the static polygon side
    // expands to its adaptive covering (a broadcast (level, cell) hash map
    // per executor), the stream computes one cell per level and broadcast-
    // joins + exact ray-cast residual, fully incremental and stateless (no
    // watermark, no state store, the stream never shuffles). Oracle: the
    // all-pairs ray cast aggregated per polygon.
    QueryDef("q_streaming_geofence",
      (s, d) => {
        import s.implicits._
        val pts = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_id") % 23 === 0)
          .withColumn("lat",
            lit(40.0) + (col("event_id") % 97).cast("double") / lit(80.0))
          .withColumn("lng",
            lit(-73.5) + (col("event_id") % 89).cast("double") / lit(60.0))
          .select("event_id", "lat", "lng")
        val polys = Seq(
          (1L, Seq(Seq(-73.3, 40.2), Seq(-72.8, 40.2), Seq(-73.05, 40.9))),
          (2L, Seq(Seq(-72.7, 40.5), Seq(-72.3, 40.5), Seq(-72.3, 41.0),
            Seq(-72.7, 41.0))),
          (3L, Seq(Seq(-73.45, 41.1), Seq(-73.15, 40.5), Seq(-72.85, 41.1),
            Seq(-73.15, 40.85)))).toDF("pid", "poly")
        val fenced = pts.geoPolygonLookup(polys, "poly", "lng", "lat")
          .select("pid", "event_id")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_geofence_sink", fenced)
          .summarize(Seq(col("pid")), count(lit(1)).as("n"))
          .sortBy(col("pid"))
      },
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |edges(pid, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.3, 40.2, -72.8, 40.2), (1, -72.8, 40.2, -73.05, 40.9),
             |  (1, -73.05, 40.9, -73.3, 40.2),
             |  (2, -72.7, 40.5, -72.3, 40.5), (2, -72.3, 40.5, -72.3, 41.0),
             |  (2, -72.3, 41.0, -72.7, 41.0), (2, -72.7, 41.0, -72.7, 40.5),
             |  (3, -73.45, 41.1, -73.15, 40.5), (3, -73.15, 40.5, -72.85, 41.1),
             |  (3, -72.85, 41.1, -73.15, 40.85), (3, -73.15, 40.85, -73.45, 41.1))
             |SELECT CAST(e.pid AS BIGINT) AS pid, COUNT(*) AS n
             |FROM (SELECT DISTINCT pid FROM edges) e, pts p
             |WHERE (SELECT COUNT(*) FROM edges g WHERE g.pid = e.pid
             |    AND ((g.y1 > p.lat) <> (g.y2 > p.lat))
             |    AND p.lng < (g.x2 - g.x1) * (p.lat - g.y1) / (g.y2 - g.y1) + g.x1
             |  ) % 2 = 1
             |GROUP BY e.pid ORDER BY pid""".stripMargin)),

    // STREAMING route matching: geo_line_lookup composes with Structured
    // Streaming after the round-11 transposition (the ×9 neighbor ring
    // lives on the static broadcast side; one probe key per point, no
    // dedup state) — points stream past, routes within 20 km enrich them,
    // stateless. Oracle replays the all-pairs distance chain per route.
    QueryDef("q_streaming_routematch",
      (s, d) => {
        import s.implicits._
        val pts = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("event_id") % 23 === 0)
          .withColumn("lat",
            lit(40.0) + (col("event_id") % 97).cast("double") / lit(80.0))
          .withColumn("lng",
            lit(-73.5) + (col("event_id") % 89).cast("double") / lit(60.0))
          .select("event_id", "lat", "lng")
        val rts = Seq(
          (1L, Seq(Seq(-73.4, 40.3), Seq(-73.0, 40.6), Seq(-72.6, 40.5))),
          (2L, Seq(Seq(-73.2, 41.0), Seq(-72.4, 40.8)))).toDF("rid", "line")
        val matched = pts.geoLineLookup(rts, "line", "lng", "lat", 20000.0)
          .select("rid", "event_id")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_routematch_sink", matched)
          .summarize(Seq(col("rid")), count(lit(1)).as("n"))
          .sortBy(col("rid"))
      },
      Some("""WITH pts AS (SELECT event_id,
             |    40.0 + CAST(event_id % 97 AS DOUBLE) / 80.0 AS lat,
             |    -73.5 + CAST(event_id % 89 AS DOUBLE) / 60.0 AS lng
             |  FROM events WHERE event_id % 23 = 0),
             |segs(rid, x1, y1, x2, y2) AS (VALUES
             |  (1, -73.4, 40.3, -73.0, 40.6), (1, -73.0, 40.6, -72.6, 40.5),
             |  (2, -73.2, 41.0, -72.4, 40.8)),
             |raw AS (SELECT g.rid, p.event_id,
             |    (g.x1 - p.lng) * COS(RADIANS(p.lat)) AS xx1,
             |    g.y1 - p.lat AS yy1,
             |    (g.x2 - p.lng) * COS(RADIANS(p.lat)) AS xx2,
             |    g.y2 - p.lat AS yy2
             |  FROM segs g, pts p),
             |t1 AS (SELECT rid, event_id, xx1, yy1,
             |    xx2 - xx1 AS dx, yy2 - yy1 AS dy FROM raw),
             |t2 AS (SELECT rid, event_id, xx1, yy1, dx, dy,
             |    dx * dx + dy * dy AS len2 FROM t1),
             |t3 AS (SELECT rid, event_id, xx1, yy1, dx, dy,
             |    CASE WHEN len2 > 0 THEN GREATEST(0.0, LEAST(1.0,
             |      -(xx1 * dx + yy1 * dy) / len2)) ELSE 0.0 END AS t FROM t2),
             |t4 AS (SELECT rid, event_id,
             |    xx1 + t * dx AS cx, yy1 + t * dy AS cy FROM t3),
             |md AS (SELECT rid, event_id,
             |    MIN(SQRT(cx * cx + cy * cy)) AS mindeg FROM t4
             |  GROUP BY rid, event_id)
             |SELECT CAST(rid AS BIGINT) AS rid, COUNT(*) AS n FROM md
             |WHERE mindeg * (PI() / 180 * 6371000.0) <= 20000.0
             |GROUP BY 1 ORDER BY rid""".stripMargin)),

    // STREAMING NEAR-DUP: a document stream deduped against a STATIC
    // reference corpus via MinHash-LSH — the 100 TB ingest-gate shape
    // (filter arriving docs against what the corpus already holds). The
    // reference side (even doc_ids) builds signatures once and broadcasts
    // (band_idx, band_key, ref_id, ref_sig); the stream (odd doc_ids)
    // computes its signature SCAN-SIDE, emits one (band_idx, key) per band
    // (bounded ×16), and broadcast-joins. A pair can collide on several
    // bands, so the residual keeps only the FIRST band whose signature
    // slices agree — exactly one emit per pair with NO distinct, no state
    // store, no watermark (the geo-lookup one-meet trick applied to LSH).
    // Oracle: brute-force exact signatures over the even×odd cross,
    // requiring an agreeing band AND estimate ≥ 0.5.
    QueryDef("q_streaming_neardup",
      (s, d) => {
        val rpb = MH_HASHES / MH_BANDS
        val ref = Dedup.minHashSignatures(
          T(s, d, "documents").where_(col("doc_id") % 2 === 0),
          "text", "doc_id", MH_HASHES, 3)
        val refBands = ref.select(col("id").as("ref_id"), col("sig").as("ref_sig"),
          posexplode(Dedup.lshBandKeys(col("sig"), MH_BANDS, rpb))
            .as(Seq("bidx", "bkey")))
        // the SAME signature chain as the reference side — the helper is
        // select-only, so it composes with a streaming DataFrame unchanged
        val sigS = Dedup.minHashSignatures(
          graft.streaming.StreamingIngest.loadStream(s, d, "documents")
            .where(col("doc_id") % 2 === 1),
          "text", "doc_id", MH_HASHES, 3)
        val cand = sigS.select(col("id"), col("sig"),
            posexplode(Dedup.lshBandKeys(col("sig"), MH_BANDS, rpb))
              .as(Seq("bidx", "bkey")))
          .join(broadcast(refBands), Seq("bidx", "bkey"))
        val firstAgree = array_position(
          array((0 until MH_BANDS).map(b =>
            (slice(col("sig"), b * rpb + 1, rpb) ===
              slice(col("ref_sig"), b * rpb + 1, rpb)).cast("int")): _*),
          lit(1)) - 1
        val est = size(filter(
          zip_with(col("sig"), col("ref_sig"), (x, y) => (x === y).cast("int")),
          v => v === 1)).cast("double") / MH_HASHES
        val out = cand
          .filter(firstAgree === col("bidx") && est >= 0.5)
          .select(col("id").as("id_s"), col("ref_id"),
            est.as("est_jaccard"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_neardup_sink", out)
          .sortBy(col("id_s"), col("ref_id"))
      },
      Some(s"""$shingleHashCtes,
              |sig AS (SELECT doc_id, [
              |    $mhSigComponents] AS sig FROM h),
              |p AS (SELECT a.doc_id AS id_s, b.doc_id AS ref_id,
              |    a.sig AS sa, b.sig AS sb
              |  FROM sig a, sig b WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
              |q AS (SELECT id_s, ref_id,
              |    CAST(len(list_filter(generate_series(1, $MH_HASHES),
              |      i -> sa[i] = sb[i])) AS DOUBLE) / $MH_HASHES AS est_jaccard,
              |    len(list_filter(generate_series(0, ${MH_BANDS - 1}), b ->
              |      sa[b*${MH_HASHES / MH_BANDS}+1:(b+1)*${MH_HASHES / MH_BANDS}] =
              |      sb[b*${MH_HASHES / MH_BANDS}+1:(b+1)*${MH_HASHES / MH_BANDS}])) AS nb
              |  FROM p)
              |SELECT id_s, ref_id, est_jaccard FROM q
              |WHERE nb >= 1 AND est_jaccard >= 0.5
              |ORDER BY id_s, ref_id""".stripMargin)),

    // STREAMING SemDeDup: an embedding stream deduped against a static
    // reference corpus with NO state store — the cluster model rides the
    // probe expression (stateless on the stream), both sides 2-probe
    // multi-assign, and the residual keeps only the FIRST shared probed
    // cluster per pair (the one-meet trick, so exactly one emit per pair
    // with no distinct and no watermark). Planted contract: each perturbed
    // copy (cos ≈ 0.997) must surface exactly its original (max cross
    // cosine ≈ 0.51 < 0.9, so no other pair survives).
    QueryDef("q_streaming_semdedup",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val centroids = semdedupModel(s, d, emb)
        val ref = emb
          .select(col("vec_id").as("ref_id"), col("embedding").as("ref_vec"),
            Similarity.ivfProbes(col("embedding"), centroids, 2).as("ref_probes"))
          .select(col("ref_id"), col("ref_vec"), col("ref_probes"),
            explode(col("ref_probes")).as("cid"))
        val sigS = graft.streaming.StreamingIngest.loadStream(s, d, "embeddings")
          .where(col("vec_id") < 40)
          .select((col("vec_id") + 1000000L).as("sid"),
            transform(col("embedding"), x => x + lit(0.02f)).as("s_vec"))
          .withColumn("s_probes", Similarity.ivfProbes(col("s_vec"), centroids, 2))
          .select(col("sid"), col("s_vec"), col("s_probes"),
            explode(col("s_probes")).as("cid"))
        val firstShared = element_at(
          filter(col("s_probes"), p => array_contains(col("ref_probes"), p)), 1)
        val out = sigS.join(broadcast(ref), Seq("cid"))
          .where(col("cid") === firstShared &&
            Similarity.cosine(col("s_vec"), col("ref_vec")) >= 0.9)
          .select(col("sid"), col("ref_id"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_semdedup_sink", out)
          .sortBy(col("sid"), col("ref_id"))
      },
      Some("""SELECT vec_id + 1000000 AS sid, vec_id AS ref_id
             |FROM embeddings WHERE vec_id < 40
             |ORDER BY sid, ref_id""".stripMargin)),

    // STREAMING substring-span contamination: an incoming document stream
    // checked for exact k-token spans that already exist in a static
    // reference corpus — the in-flight form of q_substring_dedup (flag
    // contaminated spans as docs arrive; batch span-dedup then removes
    // them). Stateless: the reference reduces to its DISTINCT span-hash set
    // (a static equi-join side), the stream emits its span table
    // (Dedup.spanHashes is select-only so it composes with a streaming
    // DataFrame), and the inner stream-static join emits each matched span
    // exactly once — no state store, no watermark, no dedup. Completes the
    // streaming dedup tier: MinHash (near-dup), SemDeDup (semantic), spans
    // (exact substring). Oracle replays the identical md5 span chain.
    QueryDef("q_streaming_spandedup",
      (s, d) => {
        val k = 5
        val ref = T(s, d, "documents").where_(col("doc_id") % 2 === 0)
          .select(explode(Dedup.spanHashes(
            TA.tokens(lower(col("text"))), k)).as("sp"))
          .select(col("sp.h").as("h")).distinct()
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), TA.tokens(lower(col("text"))).as("t"))
          .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
            explode(Dedup.spanHashes(col("t"), k)).as("sp"))
          .select(col("doc_id"), col("n_tokens"),
            col("sp.pos").cast("long").as("pos"), col("sp.h").as("h"))
        val out = stream.join(ref, Seq("h")).drop("h")
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_spandedup_sink", out)
          .sortBy(col("doc_id"), col("pos"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |sp AS (
             |  SELECT doc_id, len(t) AS n, pos,
             |    ('0x' || substr(md5(array_to_string(t[pos+1 : pos+5], ' ')), 1, 15))::BIGINT AS h
             |  FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS pos
             |        FROM toks WHERE len(t) >= 5)),
             |ref AS (SELECT DISTINCT h FROM sp WHERE doc_id % 2 = 0)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(pos AS BIGINT) AS pos
             |FROM sp JOIN ref USING (h)
             |WHERE doc_id % 2 = 1
             |ORDER BY doc_id, pos""".stripMargin)),

    // STREAMING DSIR scoring: the hashed n-gram model trains once on the
    // static pool (Dsir.trainModel — a 4096-entry driver-bounded table, the
    // IVF-centroid pattern), then rides the stream plan as ONE literal
    // array; each arriving document folds its feature buckets into the
    // exact integer micro-nat sum (Dsir.scoreMicro is select-only —
    // stateless, no broadcast join, no state store). Because scores are
    // integer-exact AND the streamed docs are a subset of the training
    // pool (every bucket is pool-seen; see the scoreMicro equality
    // contract), the in-flight score EQUALS the batch broadcast-join
    // score, so the oracle is the batch chain restricted to streamed docs.
    // Featureless docs (null/empty text) are filtered to mirror the batch
    // chain, which emits no row for a doc with no features.
    QueryDef("q_streaming_dsir",
      (s, d) => {
        val lrq = SessionArtifacts.get(s, "dsir_model", d)(
          graft.functions.Dsir.trainModel(
            T(s, d, "documents"), "text", col("lang") === "en"))
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), TA.tokens(lower(col("text"))).as("t"))
          .where(col("t").isNotNull && size(col("t")) > 0)
          .select(col("doc_id"),
            graft.functions.Dsir.scoreMicro(col("t"), lrq).as("logw_micro"))
          .select(col("doc_id"), col("logw_micro"),
            (col("logw_micro").cast("double") / 1e6).as("logw"),
            (col("logw_micro") > 0).cast("int").as("keep"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_dsir_sink", stream)
          .sortBy(col("doc_id"))
      },
      Some(dsirOracleCtes +
        """SELECT doc_id, s AS logw_micro, CAST(s AS DOUBLE) / 1e6 AS logw,
          |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS keep
          |FROM sc WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin)),

    // STREAMING quality gate: the hashed n-gram NB classifier trains once
    // on the static labeled slice (NgramQuality.trainModel — a dense
    // 4096-entry driver-bounded model, the streaming-DSIR pattern), then
    // rides the stream plan as ONE literal array + prior; each arriving
    // document folds its feature buckets into the exact integer micro-nat
    // logit (select-only — stateless, no state store). The dense model's
    // default entries EQUAL the batch chain's left-join + coalesce, so the
    // in-flight logit equals the batch q_quality_classifier logit exactly
    // and the oracle is that chain restricted to the streamed half
    // (featureless docs filtered, the q_streaming_dsir convention).
    QueryDef("q_streaming_quality",
      (s, d) => {
        val model = SessionArtifacts.get(s, "nb_model", d)(
          graft.functions.NgramQuality.trainModel(
            T(s, d, "documents").where(col("doc_id") % 3 === 0),
            "text", col("lang") === "en"))
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), TA.tokens(lower(col("text"))).as("t"))
          .where(col("t").isNotNull && size(col("t")) > 0)
          .select(col("doc_id"),
            graft.functions.NgramQuality.scoreMicro(col("t"), model)
              .as("logit_micro"))
          .select(col("doc_id"), col("logit_micro"),
            (col("logit_micro").cast("double") / 1e6).as("logit"),
            (col("logit_micro") > 0).cast("int").as("pred"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_quality_sink", stream)
          .sortBy(col("doc_id"))
      },
      Some(s"""WITH $nbModelCtes,
             |db AS (SELECT doc_id, b, COUNT(*) AS n FROM feats GROUP BY 1, 2),
             |sc AS (SELECT doc_id,
             |    CAST(SUM(n * COALESCE(wq, wq0)) AS BIGINT) AS s
             |  FROM db LEFT JOIN w USING (b), w0 GROUP BY doc_id)
             |SELECT doc_id, s + pq AS logit_micro,
             |  CAST(s + pq AS DOUBLE) / 1e6 AS logit,
             |  CASE WHEN s + pq > 0 THEN 1 ELSE 0 END AS pred
             |FROM sc, pri WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin)),

    // STREAMING weighted sampling (sharded A-Res reservoirs): keep a
    // proportional-to-weight sample of a document stream WITHOUT keeping
    // the stream. Each row's A-Res key (the chain shared verbatim with the
    // batch operator) feeds a bounded top-k reservoir per hash shard —
    // state is shards×k pairs, no watermark; the read-side global top-k
    // over the exploded reservoirs is EXACT (every shard reservoir is a
    // superset of its global-top-k members), so the streamed sample EQUALS
    // the batch weightedSample of the streamed rows and the oracle is the
    // batch chain restricted to the streamed half.
    QueryDef("q_streaming_wsample",
      (s, d) => {
        val k = 15
        val topk = udaf(new graft.functions.Sampling.TopKAgg(k),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("w"))
          .where(col("w") >= 1)
          .select(col("doc_id"),
            graft.functions.Sampling.aresKey(col("doc_id"), col("w")).as("key"))
          .groupBy(pmod(xxhash64(col("doc_id")), lit(8L)).as("shard"))
          .agg(topk(col("key"), col("doc_id")).as("res"))
        val sunk = graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_wsample_sink", stream)
        val cand = sunk.select(explode(col("res")).as("r"))
          .select(col("r._1").as("key"), col("r._2").as("doc_id"))
          .orderBy(col("key").desc, col("doc_id")).limit(k)
        val picked = cand.withColumn("pick",
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(col("key").desc, col("doc_id"))))
          .drop("key")
        picked.join(T(s, d, "documents").select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("w")), Seq("doc_id"))
          .select(col("doc_id"), col("w"), col("pick"))
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             |      AS h52 FROM documents WHERE doc_id % 2 = 1),
             |k AS (SELECT doc_id, w, CAST(FLOOR(ln(
             |    (CAST(h52 AS DOUBLE) + 1.0) / 4503599627370496.0)
             |    * 1000000.0) AS BIGINT) AS lnu FROM t WHERE w >= 1),
             |p AS (SELECT doc_id, w, ROW_NUMBER() OVER (
             |    ORDER BY CAST(lnu AS DOUBLE) / CAST(w AS DOUBLE) DESC,
             |    doc_id) AS pick FROM k)
             |SELECT doc_id, w, CAST(pick AS INT) AS pick
             |FROM p WHERE pick <= 15 ORDER BY doc_id""".stripMargin)),

    // KQL TEXT over a STRUCTURED STREAM: the parser emits ordinary Column
    // plans, so a row-local KQL pipeline (where/extend/project — no
    // reordering, no aggregation) applied to a streaming table is itself a
    // streaming plan; the resolver simply hands the parser the stream.
    // The cross-cutting integration row: the KQL front end and the
    // streaming engine compose with zero special cases.
    QueryDef("q_kql_streaming",
      (s, d) => {
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
        val kql = KqlParser.parse(
          """events
            || where value > 400 and event_type != 'scroll'
            || extend v2 = round(value * 2.0, 1), bucket = user_id % 10
            || project event_id, event_type, bucket, v2""".stripMargin,
          { case "events" => stream
            case other => throw new IllegalArgumentException(other) })
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_kql_streaming_sink", kql)
          .sortBy(col("event_id"))
      },
      Some("""SELECT event_id, event_type, user_id % 10 AS bucket,
             |  ROUND(value * 2.0, 1) AS v2
             |FROM events WHERE value > 400 AND event_type <> 'scroll'
             |ORDER BY event_id""".stripMargin)),

    // KQL TEXT runs a WINDOWED AGGREGATION over a STRUCTURED STREAM — the
    // event-store's central idiom (`summarize count() by bin(_ts, 1h)`,
    // reference README.md:3,20-21,27) in its declared language, against a
    // stream: the parser lowers a whole-group `bin(ts, Δ)` to a Spark
    // event-time window() grouping (same values — both floor to the
    // epoch-aligned grid) and `set streaming_watermark = <timespan>;`
    // bounds the bucket state via withWatermark. Replayed through real
    // micro-batches (AvailableNow, complete-mode sink — the q_streaming_*
    // convention); the oracle is the same aggregation in batch SQL, so a
    // dropped batch, a mis-aligned bucket, or a lost group reddens the row.
    QueryDef("q_kql_streaming_summarize",
      (s, d) => {
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
        val kql = KqlParser.parse(
          """set streaming_watermark = 30m;
            |events
            || where event_type != 'scroll'
            || summarize n = count(), mx = max(value), sv = sum(tolong(value))
            |  by b = bin(ts, 1h), event_type""".stripMargin,
          { case "events" => stream
            case other => throw new IllegalArgumentException(other) })
        graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_kql_streaming_summarize_sink", kql)
          .sortBy(col("b"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS b, event_type,
             |  COUNT(*) AS n, MAX(value) AS mx,
             |  CAST(SUM(CAST(trunc(value) AS BIGINT)) AS BIGINT) AS sv
             |FROM events WHERE event_type <> 'scroll'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING dcount through KQL text: Kusto's dcount is HLL-based
    // (approximate) by definition — on a stream the parser maps it to
    // approx_count_distinct (rsd 0.01; Spark cannot stream the exact
    // countDistinct this engine's BATCH mapping uses as its documented
    // oracle-friendly deviation), composed with the same windowed
    // lowering + watermark. The row's verdict: every streamed per-bucket
    // estimate lands within 5% of the exact batch distinct count (at this
    // cardinality HLL++ sparse mode is typically exact), alongside the
    // exact counts themselves so the oracle has substance.
    QueryDef("q_kql_streaming_dcount",
      (s, d) => {
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "events")
        val kql = KqlParser.parse(
          """set streaming_watermark = 30m;
            |events
            || summarize ud = dcount(user_id) by b = bin(ts, 1d), event_type""".stripMargin,
          { case "events" => stream
            case other => throw new IllegalArgumentException(other) })
        val sunk = graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_kql_streaming_dcount_sink", kql)
        val exact = T(s, d, "events")
          .summarize(Seq(date_trunc("day", col("ts")).as("b"),
            col("event_type")), countDistinct(col("user_id")).as("ex"))
        sunk.join(exact, Seq("b", "event_type"))
          .project(col("b"), col("event_type"),
            (abs(col("ud") - col("ex")) * 100 <= col("ex") * 5).as("ok"),
            col("ex"))
          .sortBy(col("b"), col("event_type"))
      },
      Some("""SELECT date_trunc('day', ts) AS b, event_type, true AS ok,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ex
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAMING image near-dup: an incoming image stream checked against a
    // static corpus with NO state store — the pigeonhole trick (hamming ≤ 6
    // over 64 bits ⇒ at least one of 8 8-bit chunks matches exactly) gives
    // candidates from a broadcast (chunk_index, chunk) equi-join, and the
    // FIRST-agreeing-chunk residual emits each (stream image, ref hash
    // group) exactly once (the streaming_neardup one-meet convention). The
    // synthetic payload/hash chain (mapPartitions — select-only, streaming-
    // composable) is shared verbatim with the batch q_image_neardup; each
    // odd doc streams its even predecessor's image, so every stream item
    // finds at least its exact twin (ham 0) plus true near-dups.
    QueryDef("q_streaming_image_neardup",
      (s, d) => {
        import graft.multimodal.Multimodal
        val refG = Multimodal.imagePerceptualHashes(s,
            Multimodal.withSyntheticPayload(
              T(s, d, "documents").where_(col("doc_id") % 2 === 0)
                .project(col("doc_id")), "doc_id"), "doc_id").toDF()
          .groupBy(col("ahash").as("ref_hash"))
          .agg(min(col("media_id")).as("ref_rep"), count(lit(1)).as("n_ref"))
          // pack ONCE per distinct hash, before the chunk explode — the
          // residual is then codegen'd xor+popcount (the batch query's
          // 140s→seconds lesson), carried through the broadcast
          .withColumn("rh1", Dedup.bitsHi(col("ref_hash")))
          .withColumn("rh2", Dedup.bitsLo(col("ref_hash")))
        val refChunks = refG
          .withColumn("ci", explode(sequence(lit(0), lit(7))))
          .withColumn("chunk", Dedup.bitChunk(col("ref_hash"), col("ci")))
        // predecessor-existence parity with the oracle's inner join: only
        // stream docs whose even twin IS a document synthesize its image
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id").as("sid"), (col("doc_id") - 1).as("pid"))
          .join(broadcast(T(s, d, "documents")
            .select(col("doc_id").as("pid"))), Seq("pid"), "left_semi")
        val streamH = Multimodal.imagePerceptualHashes(s,
            Multimodal.withSyntheticPayload(stream, "pid"), "sid").toDF()
          .select(col("media_id").as("id_s"), col("ahash"),
            Dedup.bitsHi(col("ahash")).as("sh1"),
            Dedup.bitsLo(col("ahash")).as("sh2"))
        val cand = streamH
          .withColumn("ci", explode(sequence(lit(0), lit(7))))
          .withColumn("chunk", Dedup.bitChunk(col("ahash"), col("ci")))
          .join(broadcast(refChunks), Seq("ci", "chunk"))
        val firstAgree = Dedup.firstAgreeingChunk(col("ahash"), col("ref_hash"))
        val ham = Dedup.hammingPacked(col("sh1"), col("sh2"),
          col("rh1"), col("rh2"))
        val out = cand.filter(firstAgree === col("ci") && ham <= 6)
          .select(col("id_s"), col("ref_rep"), col("n_ref"),
            ham.cast("int").as("ham"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_imgdup_sink", out)
          .sortBy(col("id_s"), col("ref_rep"))
      },
      Some(s"""$imAhashCtes,
             |g AS (SELECT ahash AS ref_hash, MIN(id) AS ref_rep,
             |    COUNT(*) AS n_ref FROM ah GROUP BY 1),
             |st AS (SELECT d.doc_id AS id_s, a.ahash
             |  FROM documents d JOIN ah a ON a.id = d.doc_id - 1
             |  WHERE d.doc_id % 2 = 1)
             |SELECT s.id_s, g.ref_rep, g.n_ref,
             |  CAST(len(list_filter(range(64),
             |    i -> substr(s.ahash, CAST(i + 1 AS INT), 1)
             |      <> substr(g.ref_hash, CAST(i + 1 AS INT), 1))) AS INT) AS ham
             |FROM st s JOIN g ON len(list_filter(range(64),
             |    i -> substr(s.ahash, CAST(i + 1 AS INT), 1)
             |      <> substr(g.ref_hash, CAST(i + 1 AS INT), 1))) <= 6
             |ORDER BY id_s, ref_rep""".stripMargin)),

    // STREAMING temperature mixture: rates trained on the static POOL (the
    // full documents table), applied to an incoming document stream as a
    // broadcast join + scan-side hash threshold — select-only, stateless,
    // no watermark. The in-flight form of q_temperature_mix: admit new
    // documents at each domain's rebalanced rate as they arrive. The rate
    // chain is bit-identical to the batch operator (shared code), so the
    // oracle is the batch CTE chain restricted to the streamed half.
    QueryDef("q_streaming_tempmix",
      (s, d) => {
        val rates = graft.functions.Sampling.temperatureRates(
          T(s, d, "documents"), col("lang"), alphaQuarters = 2, budget = 250L)
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"))
        val kept = graft.functions.Sampling.applyMixtureRates(
          stream, col("lang"), col("doc_id"), rates)
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_tempmix_sink", kept)
          .summarize(Seq(col("lang"), col("keep_ppm")),
            count(lit(1)).as("n_kept"))
          .sortBy(col("lang"))
      },
      Some(tempmixRateCtes +
        """SELECT d.lang, r.keep_ppm, COUNT(*) AS n_kept
          |FROM documents d JOIN r ON d.lang = r.dom
          |WHERE d.doc_id % 2 = 1
          |  AND ('0x' || substr(md5(d.lang || ':' ||
          |    CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT < r.keep_ppm
          |GROUP BY 1, 2 ORDER BY d.lang""".stripMargin)),

    // STREAMING curriculum bins: exact quantile THRESHOLDS trained on the
    // static pool (k−1 longs — the bounded-model convention), each arriving
    // document assigned its difficulty bin by one select-only literal fold
    // — stateless, no watermark. Exact streaming quantiles are impossible
    // without the global order; this is the documented posture (DEVIATIONS
    // §curation): pool-exact thresholds, threshold-closure assignment
    // (boundary TIES land in the higher bin — the oracle replays that
    // closure, not rank splitting). The batch q_curriculum_bins remains
    // the rank-exact form.
    QueryDef("q_streaming_quantile_bins",
      (s, d) => {
        val pool = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("score"))
        val th = graft.functions.Sampling.quantileThresholds(
          pool, col("score"), col("doc_id"), 4)
        val stream = graft.streaming.StreamingIngest.loadStream(s, d, "documents")
          .where(col("doc_id") % 2 === 1)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("score"))
          .withColumn("bin",
            graft.functions.Sampling.assignBins(col("score"), th))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_qbins_sink", stream)
          .summarize(Seq(col("bin")),
            count(lit(1)).as("n"), sum(col("score")).as("ts"))
          .sortBy(col("bin"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS score
             |  FROM documents),
             |r AS (SELECT doc_id, score,
             |    ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
             |    COUNT(*) OVER () AS n FROM t),
             |b AS (SELECT doc_id, score,
             |    CAST(FLOOR((rn - 1) * 4 / n) AS INT) AS bin FROM r),
             |th0 AS (SELECT bin, MIN(score) AS lo FROM b WHERE bin >= 1 GROUP BY bin),
             |-- DENSE fill, the quantileThresholds contract: one threshold per
             |-- j = 1..k-1 as min lo over occupied bins >= j (a skipped pool
             |-- bin inherits the next bin's floor; a j no pool row reaches
             |-- stays absent = unreachable) — NOT just the occupied bins,
             |-- which disagrees whenever n < k leaves a bin empty
             |th AS (SELECT js.j, MIN(th0.lo) AS lo
             |  FROM (SELECT unnest(generate_series(1, 3)) AS j) js
             |  JOIN th0 ON th0.bin >= js.j GROUP BY js.j),
             |st AS (SELECT doc_id, score,
             |    (SELECT COUNT(*) FROM th WHERE th.lo <= t.score) AS bin
             |  FROM t WHERE doc_id % 2 = 1)
             |SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n,
             |  CAST(SUM(score) AS BIGINT) AS ts
             |FROM st GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Stream-STATIC enrichment: the events stream joined to the customer
    // dimension (broadcast, stateless — no watermark, no state store), then
    // batch-summarized per market segment. The streaming surface every
    // dimension-decorated event pipeline needs; at scale the static side is
    // a broadcast hash map per executor, the stream never shuffles.
    QueryDef("q_streaming_enrich",
      (s, d) => {
        val ev = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"))
        val dim = T(s, d, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
        val enriched = graft.streaming.StreamingIngest
          .enrichStream(ev, dim, Seq("user_id"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_enrich_sink", enriched)
          .summarize(Seq(col("segment")), count(lit(1)).as("n"),
            min(col("value")).as("min_v"), max(col("value")).as("max_v"))
          .sortBy(col("segment"))
      },
      Some("""SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
             |  MIN(e.value) AS min_v, MAX(e.value) AS max_v
             |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
             |GROUP BY 1 ORDER BY segment""".stripMargin)),

    // dropDuplicatesWithinWatermark: key-only streaming dedup whose state
    // evicts at the watermark (dropDuplicates(ts,key) keeps key state
    // forever). Each event is replayed twice (explode-duplicated); the dedup
    // must emit each event_id exactly once, so the summarized counts equal
    // the batch per-type cardinalities.
    QueryDef("q_streaming_dedup_within",
      (s, d) => {
        val doubled = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .select(col("event_id"), col("ts"), col("event_type"))
          .withColumn("copy", explode(array(lit(1), lit(2))))
          .drop("copy")
        val deduped = graft.streaming.StreamingIngest
          .dedupWithinWatermark(doubled, "ts", Seq("event_id"))
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_dedup_within_sink", deduped)
          .summarize(Seq(col("event_type")), count(lit(1)).as("n"))
          .sortBy(col("event_type"))
      },
      Some("""SELECT event_type, COUNT(DISTINCT event_id) AS n FROM events
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // --- custom-state streaming in CORRECTNESS: flatMapGroupsWithState
    // sessionization (arbitrary per-key state, not a built-in aggregation)
    // replayed over the bounded events stream. Sessions close when a LATER
    // event's idle gap exceeds 30m; each key's trailing session stays open at
    // end-of-stream, so the oracle emits every session except each user's last.
    QueryDef("q_streaming_sessions",
      (s, d) => {
        val in = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("user_id") < 30)
        val sess = graft.streaming.StreamingIngest
          .sessionizeWithState(in, "user_id", "ts", gapSeconds = 1800)
        graft.streaming.StreamingIngest
          .runBoundedDedup(s, "q_streaming_sessions_sink", sess.toDF())
          .sortBy(col("user_id"), col("start_us"))
      },
      Some("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t
             |    FROM events WHERE user_id < 30),
             |m AS (SELECT user_id, t,
             |    CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS nw
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |s AS (SELECT user_id, t, SUM(nw) OVER (
             |    PARTITION BY user_id ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m),
             |g AS (SELECT user_id, sid, MIN(t) AS start_us, MAX(t) AS end_us,
             |    COUNT(*) AS n_events FROM s GROUP BY 1, 2)
             |SELECT user_id, start_us, end_us, n_events FROM g
             |WHERE sid < (SELECT MAX(sid) FROM g g2 WHERE g2.user_id = g.user_id)
             |ORDER BY user_id, start_us""".stripMargin)),

    // --- streaming sliding windows in CORRECTNESS: 6h windows sliding every
    // 3h → each event lands in exactly two windows; the oracle generates the
    // same two shifted tumbling bins per event. --------------------------------
    QueryDef("q_streaming_sliding",
      (s, d) => {
        val in = graft.streaming.StreamingIngest.loadStream(s, d, "events")
        val agg = graft.streaming.StreamingIngest
          .slidingCounts(in, "ts", "event_type", "6 hours", "3 hours")
          .select(col("window.start").as("ws"), col("event_type"), col("n"))
        graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_sliding_sink", agg)
          .sortBy(col("ws"), col("event_type"))
      },
      Some("""WITH w AS (
             |  SELECT event_type, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST(epoch_us(ts)//1000000//10800*10800 AS BIGINT)) SECOND AS ws
             |  FROM events
             |  UNION ALL
             |  SELECT event_type, TIMESTAMP '1970-01-01 00:00:00' + INTERVAL
             |    (CAST(epoch_us(ts)//1000000//10800*10800 - 10800 AS BIGINT)) SECOND
             |  FROM events)
             |SELECT ws, event_type, COUNT(*) AS n FROM w
             |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin)),

    // --- streaming session windows in CORRECTNESS: Spark's built-in
    // session_window (30m inactivity gap) per user over the bounded replay;
    // complete-mode sink flushes every session including each user's trailing
    // one, so the oracle is plain batch gap-sessionization (end = last + gap).
    QueryDef("q_streaming_session_win",
      (s, d) => {
        val in = graft.streaming.StreamingIngest.loadStream(s, d, "events")
          .where(col("user_id") < 30)
        val agg = graft.streaming.StreamingIngest
          .sessionCounts(in, "ts", "user_id", "30 minutes")
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n"))
        graft.streaming.StreamingIngest
          .runBoundedAggregation(s, "q_streaming_session_win_sink", agg)
          .sortBy(col("user_id"), col("start_us"))
      },
      Some("""WITH e AS (SELECT CAST(user_id AS BIGINT) AS user_id, epoch_us(ts) AS t
             |    FROM events WHERE user_id < 30),
             |m AS (SELECT user_id, t,
             |    CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > 1800000000
             |         THEN 1 ELSE 0 END AS nw
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
             |s AS (SELECT user_id, t, SUM(nw) OVER (
             |    PARTITION BY user_id ORDER BY t
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
             |SELECT user_id, MIN(t) AS start_us, MAX(t) + 1800000000 AS end_us,
             |  COUNT(*) AS n
             |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)),

    // --- streaming time-partitioned parquet sink in CORRECTNESS: the bounded
    // stream is written through the real file sink (exactly-once, day-bucket
    // partitioned — the streaming segment-write path), then the written table
    // is read back and aggregated. Write-once per (session, sfDir).
    QueryDef("q_streaming_sink",
      (s, d) => {
        val base = SessionArtifacts.dir(s, "stream_sink", d) { base =>
          val in = graft.streaming.StreamingIngest.loadStream(s, d, "events")
            .where(col("user_id") < 20)
            .select(col("ts"), col("event_id"), col("event_type"))
          val q = graft.streaming.StreamingIngest
            .writeTimePartitioned(in, s"$base/data", s"$base/chk", "ts")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        T2(s, s"$base/data")
          .summarize(Seq(col("ts_bucket").cast("string").as("ts_bucket")),
            count(lit(1)).as("n"))
          .sortBy(col("ts_bucket"))
      },
      Some("""SELECT strftime(ts, '%Y-%m-%d') AS ts_bucket, COUNT(*) AS n
             |FROM events WHERE user_id < 20
             |GROUP BY 1 ORDER BY ts_bucket""".stripMargin)),

    // --- multimodal REAL decode in CORRECTNESS: the fixture encodes genuine
    // PNG / WAV / GVF0-video payloads whose pixel/sample content is closed-form
    // arithmetic in (id, index); the engine decodes them back (zlib inflate +
    // PNG unfilter, RIFF walk) per partition batch, blob never shuffled. The
    // oracle recomputes the expected stats from the closed form — so a green
    // row proves the whole encode→decode round trip. Integer-valued sums →
    // the mean division is bit-exact across engines. n_bytes (deflate output
    // size, not closed-form) is asserted in MultimodalSpec instead. ---
    QueryDef("q_multimodal_features",
      (s, d) => {
        val media = graft.multimodal.Multimodal.withSyntheticPayload(
          T(s, d, "documents").project(col("doc_id")), "doc_id")
        graft.multimodal.Multimodal.extractFeatures(s, media, "doc_id").toDF()
          .project(col("mediaId").as("media_id"), col("kind").as("media_kind"),
            col("width"), col("height"), col("meanVal").as("mean_val"),
            col("frameCount").as("frame_count"))
          .sortBy(col("media_id"))
      },
      // id % 4 routing: 0 PNG / 1 WAV / 2 GVF0 / 3 JPEG (metadata-only decode
      // → mean_val 0, one frame; dimensions come from the real SOF walk)
      Some(
        """SELECT doc_id AS media_id,
          |  (['image','audio','video','jpeg'])[CAST(doc_id % 4 + 1 AS INT)] AS media_kind,
          |  CASE WHEN doc_id % 4 = 1 THEN 0
          |       ELSE CAST(8 + doc_id % 9 AS INT) END AS width,
          |  CASE WHEN doc_id % 4 = 1 THEN 0
          |       ELSE CAST(8 + doc_id % 7 AS INT) END AS height,
          |  CASE WHEN doc_id % 4 = 1
          |    THEN CAST(list_sum(list_transform(range(0, 64 + doc_id % 64),
          |           i -> (doc_id * 13 + i * 5) % 2003 - 1001)) AS DOUBLE)
          |         / (64 + doc_id % 64)
          |  WHEN doc_id % 4 = 3 THEN 0.0
          |    ELSE CAST(list_sum(list_transform(range(0, (8 + doc_id % 9) * (8 + doc_id % 7)),
          |           i -> (doc_id * 31 + i * 7) % 251)) AS DOUBLE)
          |         / ((8 + doc_id % 9) * (8 + doc_id % 7))
          |  END AS mean_val,
          |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 1
          |       WHEN 1 THEN CAST(64 + doc_id % 64 AS INT)
          |       WHEN 3 THEN 1
          |       ELSE CAST(1 + doc_id % 5 AS INT) END AS frame_count
          |FROM documents ORDER BY media_id""".stripMargin)),

    // Frame-level audio features through the REAL WAV decode: per-16-sample
    // frame, zero-crossing count and exact integer energy. The synthetic
    // samples have closed form ((id·13 + i·5) % 2003 − 1001), so the oracle
    // replays frames arithmetically without a codec — all-integer outputs,
    // bit-exact.
    QueryDef("q_audio_frames",
      (s, d) => {
        val media = graft.multimodal.Multimodal.withSyntheticPayload(
          T(s, d, "documents").project(col("doc_id")), "doc_id")
        graft.multimodal.Multimodal.audioFrameFeatures(s, media, "doc_id").toDF()
          .sortBy(col("media_id"), col("frame_idx"))
      },
      Some("""WITH au AS (
             |  SELECT doc_id AS id, 64 + doc_id % 64 AS n FROM documents
             |  WHERE doc_id % 4 = 1),
             |sm AS (
             |  SELECT id, i, (id * 13 + i * 5) % 2003 - 1001 AS v
             |  FROM au, UNNEST(range(n)) t(i)),
             |fr AS (
             |  SELECT id, i, v, i // 16 AS frame_idx,
             |    LAG(v) OVER (PARTITION BY id ORDER BY i) AS pv
             |  FROM sm)
             |SELECT id AS media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             |  COUNT(*) AS n_samples,
             |  CAST(COUNT(*) FILTER (WHERE i % 16 > 0 AND v * pv < 0) AS BIGINT) AS zc,
             |  CAST(SUM(v * v) AS BIGINT) AS sumsq
             |FROM fr GROUP BY 1, 2 ORDER BY media_id, frame_idx""".stripMargin)),

    // Perceptual image hashes (aHash point-sample / dHash gradient) through
    // the REAL PNG decode — image-level near-dup keys for multimodal corpora.
    // Exact-integer sampling conventions (Multimodal.imagePerceptualHashes),
    // so the oracle replays both 64-bit hashes from the closed-form pixels.
    QueryDef("q_image_phash",
      (s, d) => {
        val media = graft.multimodal.Multimodal.withSyntheticPayload(
          T(s, d, "documents").project(col("doc_id")), "doc_id")
        graft.multimodal.Multimodal.imagePerceptualHashes(s, media, "doc_id")
          .toDF().sortBy(col("media_id"))
      },
      Some(s"""$imAhashCtes,
             |gd AS (SELECT id, r, c,
             |    (id * 31 + ((r * h // 8) * w + (c * w // 9)) * 7) % 251 AS v
             |  FROM im, UNNEST(range(8)) t1(r), UNNEST(range(9)) t2(c)),
             |dh AS (SELECT l.id,
             |    string_agg(CASE WHEN l.v < rr.v THEN '1' ELSE '0' END, ''
             |      ORDER BY l.r * 8 + l.c) AS dhash
             |  FROM gd l JOIN gd rr ON rr.id = l.id AND rr.r = l.r AND rr.c = l.c + 1
             |  WHERE l.c < 8 GROUP BY l.id)
             |SELECT im.id AS media_id, im.kind, ah.ahash, dh.dhash
             |FROM im JOIN ah ON ah.id = im.id JOIN dh ON dh.id = im.id
             |ORDER BY media_id""".stripMargin)),

    // Image near-dup: the hamming-bucket join the phash row documents as the
    // scale path, implemented in the two-tier corpus form — EXACT duplicates
    // collapse to hash groups first (linear; pair output over exact groups
    // is inherently quadratic, clusters are the scale-sane shape), then
    // near-dup pairs are found among DISTINCT hashes only: 8×8-bit chunks,
    // pigeonhole guarantees any pair at hamming ≤ 6 shares a clean chunk, so
    // candidates come from ONE (chunkIdx, chunk) equi-join — never
    // all-pairs, and the candidate universe is hash-cardinality-bound, not
    // image-count-bound. Exact hamming verifies candidates; the brute-force
    // oracle over independently replayed hashes proves zero recall loss.
    QueryDef("q_image_neardup",
      (s, d) => {
        val media = graft.multimodal.Multimodal.withSyntheticPayload(
          T(s, d, "documents").project(col("doc_id")), "doc_id")
        val hashes = graft.multimodal.Multimodal
          .imagePerceptualHashes(s, media, "doc_id").toDF()
          .select(col("media_id"), col("ahash"))
        // bit-string → two packed 32-bit longs ONCE per distinct hash, so the
        // candidate-verify hamming is codegen'd xor+popcount, not a per-pair
        // 64-step string scan (the 140s → seconds lesson at sf0.1)
        val groups = hashes.groupBy(col("ahash"))
          .agg(count(lit(1)).as("n"), min(col("media_id")).as("rep"))
          .withColumn("h1", Dedup.bitsHi(col("ahash")))
          .withColumn("h2", Dedup.bitsLo(col("ahash")))
        val ck = groups.withColumn("ci", explode(sequence(lit(0), lit(7))))
          .withColumn("chunk", Dedup.bitChunk(col("ahash"), col("ci")))
        val cand = ck.as("a").join(ck.as("b"),
            col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk") &&
              col("a.ahash") < col("b.ahash"))
          .select(col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
            col("a.n").as("n_a"), col("b.n").as("n_b"),
            col("a.h1").as("x1"), col("a.h2").as("x2"),
            col("b.h1").as("y1"), col("b.h2").as("y2"))
          .distinct()
        val ham = Dedup.hammingPacked(col("x1"), col("x2"), col("y1"), col("y2"))
        cand.withColumn("ham", ham).where(col("ham") <= 6)
          .select(col("rep_a"), col("rep_b"), col("n_a"), col("n_b"), col("ham"))
          .sortBy(col("rep_a"), col("rep_b"))
      },
      Some(s"""$imAhashCtes,
             |g AS (SELECT ahash, COUNT(*) AS n, MIN(id) AS rep
             |  FROM ah GROUP BY ahash),
             |pr AS (SELECT a.rep AS rep_a, b.rep AS rep_b,
             |    a.n AS n_a, b.n AS n_b,
             |    CAST(len(list_filter(range(64),
             |      i -> substr(a.ahash, CAST(i + 1 AS INT), 1)
             |        <> substr(b.ahash, CAST(i + 1 AS INT), 1))) AS INT) AS ham
             |  FROM g a JOIN g b ON a.ahash < b.ahash)
             |SELECT rep_a, rep_b, CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b, ham
             |FROM pr WHERE ham <= 6 ORDER BY rep_a, rep_b""".stripMargin)),

    // Deterministic stratified sampling (Sampling.stratified): k hash-first
    // docs per language — reproducible corpus curation (same sample on every
    // run/engine/cluster size, unlike rand()); md5 ranking is portable so
    // the oracle draws the identical sample
    QueryDef("q_stratified_sample",
      (s, d) => graft.functions.Sampling.stratified(
          T(s, d, "documents"), col("lang"), col("doc_id"), 10)
        .project(col("doc_id"), col("lang"))
        .sortBy(col("lang"), col("doc_id")),
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
             |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents) WHERE rk <= 10
             |ORDER BY lang, doc_id""".stripMargin)),

    // Rate-based deterministic sample (Sampling.byRate): pure scan-side
    // hash-threshold filter, no shuffle — first-2-hex-digits < pct*256/100;
    // fixed-width lowercase hex compares lexicographically = numerically
    QueryDef("q_sample_rate",
      (s, d) => graft.functions.Sampling.byRate(
          T(s, d, "documents"), col("doc_id"), 25)
        .summarize(Seq(col("lang")), count(lit(1)).as("n"))
        .sortBy(col("lang")),
      Some("""SELECT lang, COUNT(*) AS n FROM documents
             |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // --- full-text inverted index (posting lists; IndexType::FullText) ------
    // Index build is write-once / probe-many: memoized per (session, sfDir) à la
    // the variant segment, so the timed body is the PROBE path (term pushdown
    // into the posting table + semi-join back into documents), not index churn.
    QueryDef("q_search_indexed",
      (s, d) => {
        val idx = fulltextIdx(s, d)
        FullTextIndex.search(s, idx, T(s, d, "documents"), "doc_id",
            Seq("vector"))
          .summarize(Seq(col("lang")), count(lit(1)).as("n"))
          .sortBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n FROM documents
             |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])vector($|[^a-z0-9])')
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef("q_search_indexed_all",
      (s, d) => {
        val idx = fulltextIdx(s, d)
        FullTextIndex.search(s, idx, T(s, d, "documents"), "doc_id",
            Seq("vector", "hash"), matchAll = true)
          .summarize(Nil, count(lit(1)).as("n"),
            countDistinct(col("source")).as("sources"))
      },
      Some("""SELECT COUNT(*) AS n, COUNT(DISTINCT source) AS sources FROM documents
             |WHERE regexp_matches(lower(text), '(^|[^a-z0-9])vector($|[^a-z0-9])')
             |  AND regexp_matches(lower(text), '(^|[^a-z0-9])hash($|[^a-z0-9])')""".stripMargin)),

    // --- centroid stats over embeddings (deterministic per-dim extremes) ----
    QueryDef("q_embedding_stats",
      (s, d) => T(s, d, "embeddings")
        .summarize(Seq(col("label")),
          count(lit(1)).as("n"),
          max(element_at(col("embedding"), 1).cast("double")).as("max_d0"),
          min(element_at(col("embedding"), 1).cast("double")).as("min_d0"))
        .sortBy(col("label")),
      Some("""SELECT label, COUNT(*) AS n,
             |  MAX(CAST(embedding[1] AS DOUBLE)) AS max_d0,
             |  MIN(CAST(embedding[1] AS DOUBLE)) AS min_d0
             |FROM embeddings GROUP BY label ORDER BY label""".stripMargin)),

    // --- character-bigram LM rarity score (corpus-trained quality signal) ---
    // Train: one corpus pass counts every char bigram; bigrams seen >= 50
    // times are "common" (the model — a few hundred rows, broadcast). Score:
    // per-doc fraction of bigram OCCURRENCES outside the common set — the
    // cheap stand-in for LM-perplexity quality filtering. All-integer counts
    // + one final division; the oracle replays the identical construction.
    QueryDef("q_lm_bigram_score",
      (s, d) => {
        val docs = T(s, d, "documents")
          .select(col("doc_id"), lower(col("text")).as("t"))
          .where(length(col("t")) >= 2)
        // pre-aggregate to (doc, bigram, count) and materialize: the raw
        // occurrence stream is exploded and shuffled exactly ONCE; both
        // consumers below (model build + scoring join) read the cached
        // aggregate (Caching.materialize — the bounded-registry persist).
        // Totals fall out of length(t) — no third pass. The thin source is
        // widened BEFORE the bigram explode (spreadThin): the interpreted
        // transform/sequence chain otherwise runs on the scan's one split
        // (JobProbe cold: a 2.3 s single-task job with 31 idle cores).
        val wideDocs = graft.functions.Caching.spreadThin(docs)
        val bg = graft.functions.Caching.materialize(wideDocs.select(col("doc_id"),
            explode(expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("b"))
          .groupBy("doc_id", "b").agg(count(lit(1)).as("c")))
        val common = bg.groupBy("b").agg(sum("c").as("tc"))
          .filter(col("tc") >= 50).select("b")
        val commonHits = bg.join(broadcast(common), Seq("b"))
          .groupBy("doc_id").agg(sum("c").as("hits"))
        docs.select(col("doc_id"), (length(col("t")) - 1).cast("long").as("total"))
          .join(commonHits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("total"),
            (col("total") - coalesce(col("hits"), lit(0L))).as("rare"),
            ((lit(100.0) * (col("total") - coalesce(col("hits"), lit(0L))))
              / col("total")).as("oov_pct"))
          .where(col("doc_id") % 5 === 0)
          .sortBy(col("doc_id"))
      },
      Some("""WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents
             |    WHERE length(lower(text)) >= 2),
             |bg AS (SELECT doc_id, substr(t, CAST(i AS INT), 2) AS b
             |  FROM docs, LATERAL unnest(generate_series(1, length(t) - 1)) AS u(i)),
             |common AS (SELECT b FROM bg GROUP BY b HAVING COUNT(*) >= 50),
             |sc AS (SELECT bg.doc_id, COUNT(*) AS total,
             |    COUNT(*) FILTER (WHERE common.b IS NULL) AS rare
             |  FROM bg LEFT JOIN common USING (b) GROUP BY bg.doc_id)
             |SELECT doc_id, total, rare, (100.0 * rare) / total AS oov_pct
             |FROM sc WHERE doc_id % 5 = 0 ORDER BY doc_id""".stripMargin))

    ,
    // --- TF-IDF keyword extraction (top-3 per doc) --------------------------
    // tf per (doc, token) in one pass (materialized — document-frequency
    // model and scoring join both read it); score = tf/df is one IEEE division
    // so the ranking is engine-portable, ties broken by token; top-3 selected
    // with a per-doc window and pivoted into ordered columns (no
    // collect_list ordering dependence)
    QueryDef("q_tfidf_keywords",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tf = graft.functions.Caching.materialize(
          graft.functions.Caching.spreadThin(
              T(s, d, "documents").select(col("doc_id"), col("text")))
            .select(col("doc_id"), explode(TA.tokens(lower(col("text")))).as("tok"))
            .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("tok").asc)
        tf.join(broadcast(dfreq), Seq("tok"))
          .select(col("doc_id"), col("tok"),
            (col("tf").cast("double") / col("df")).as("score"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .groupBy("doc_id")
          .agg(max(when(col("rn") === 1, col("tok"))).as("k1"),
            max(when(col("rn") === 2, col("tok"))).as("k2"),
            max(when(col("rn") === 3, col("tok"))).as("k3"))
          .where(col("doc_id") % 7 === 0)
          .sortBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT doc_id, tok, CAST(tf AS DOUBLE) / df AS score
             |  FROM tf JOIN df USING (tok)),
             |r AS (SELECT doc_id, tok, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, tok) AS rn FROM sc)
             |SELECT doc_id,
             |  MAX(CASE WHEN rn = 1 THEN tok END) AS k1,
             |  MAX(CASE WHEN rn = 2 THEN tok END) AS k2,
             |  MAX(CASE WHEN rn = 3 THEN tok END) AS k3
             |FROM r WHERE rn <= 3 AND doc_id % 7 = 0
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // --- URL-canonicalization dedup (crawl-pipeline key) --------------------
    // Synthetic URL variants (mixed-case host, default port, tracking params,
    // fragments, trailing slash) collapse to one canonical key per
    // (source, doc_id%50) — the oracle states the expected canonical form
    // directly since the variants are constructed in-query
    QueryDef("q_url_dedup",
      (s, d) => {
        val urls = T(s, d, "documents")
          .extend("url" -> concat(
            lit("HTTP://ExAmple.COM:80/docs/"), col("source"), lit("/"),
            (col("doc_id") % 50).cast("string"),
            when(col("doc_id") % 4 === 0, "?utm_source=feed&b=2&a=1#top")
              .when(col("doc_id") % 4 === 1, "/")
              .when(col("doc_id") % 4 === 2, "?b=2&a=1")
              .otherwise("#sec")))
        urls.extend("url_norm" -> TA.urlNormalize(col("url")))
          .summarize(Seq(col("url_norm")),
            count(lit(1)).as("n"), min(col("doc_id")).as("keep"))
          .sortBy(col("url_norm"))
      },
      Some("""WITH b AS (SELECT doc_id,
             |    'http://example.com/docs/' || source || '/' ||
             |    CAST(doc_id % 50 AS VARCHAR) ||
             |    CASE WHEN doc_id % 2 = 0 THEN '?a=1&b=2' ELSE '' END AS u
             |  FROM documents)
             |SELECT u AS url_norm, COUNT(*) AS n, MIN(doc_id) AS keep
             |FROM b GROUP BY 1 ORDER BY url_norm""".stripMargin)),

    // --- sketch-prefiltered exact pipelines ---------------------------------
    // Cross-shard membership via BUCKETED Bloom filters (Sketches.bloomAgg):
    // shard A reduces to one ~1 KB filter per hash bucket; shard B probes by
    // bucket EQUI-join (never broadcast-required, never a re-scan of A), and
    // because a Bloom filter has no false negatives the exact left-semi
    // verify join only sees candidates — the output is EXACT and the oracle
    // states the plain membership semantics. This is the 100 TB shape for
    // "which keys in today's shard already exist in the corpus".
    QueryDef("q_bloom_membership",
      (s, d) => {
        import graft.functions.Sketches
        val o = T(s, d, "orders").select(col("o_custkey"), col("o_orderkey"))
        val a = o.filter(col("o_orderkey") % 2 === 0).select(col("o_custkey").as("k"))
        val b = o.filter(col("o_orderkey") % 2 === 1).select(col("o_custkey").as("k"))
          .distinct()
        def bkt(c: Column) = pmod(xxhash64(c), lit(32L))
        val blooms = a.groupBy(bkt(col("k")).as("bkt"))
          .agg(Sketches.bloomAgg(col("k"), 4096, 3).as("bf"))
        val cand = b.withColumn("bkt", bkt(col("k"))).join(blooms, "bkt")
          .where(Sketches.bloomContains(col("bf"), col("k"), 3))
          .select(col("k"))
        cand.join(a.distinct(), Seq("k"), "left_semi")
          .select(col("k").as("o_custkey")).sortBy(col("o_custkey"))
      },
      Some("""SELECT DISTINCT o_custkey FROM orders b
             |WHERE o_orderkey % 2 = 1 AND EXISTS (
             |  SELECT 1 FROM orders a
             |  WHERE a.o_orderkey % 2 = 0 AND a.o_custkey = b.o_custkey)
             |ORDER BY o_custkey""".stripMargin)),

    // Heavy hitters via a count-min sketch pre-filter (Sketches.cmsAgg): the
    // corpus reduces to one d×w counter array in a single partial+final
    // aggregate; since CMS never under-counts, thresholding the ESTIMATE
    // keeps every truly-frequent key, and the exact count+HAVING verify pass
    // restores exactness — the sketch bounds the candidate set, the exact
    // aggregate proves it. Oracle states the plain exact semantics.
    QueryDef("q_cms_heavy_hitters",
      (s, d) => {
        import graft.functions.Sketches
        val ev = T(s, d, "events").select(col("user_id"))
        val cms = ev.agg(Sketches.cmsAgg(col("user_id"), 64, 3).as("cms"))
        val cand = ev.distinct()
          .crossJoin(broadcast(cms))
          .where(Sketches.cmsEstimate(col("cms"), col("user_id"), 64, 3) >= 75L)
          .select(col("user_id"))
        ev.join(cand, Seq("user_id"), "left_semi")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .where(col("n") >= 75).sortBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n FROM events
             |GROUP BY user_id HAVING COUNT(*) >= 75
             |ORDER BY user_id""".stripMargin)),

    // n-gram CONTAINMENT (asymmetric near-dup: |A∩B|/|A| — catches a doc
    // embedded inside a larger one, which symmetric Jaccard under-scores).
    // Exhaustive via the distributed-safe shape: shingle explode + equi-join
    // intersection counts, with ubiquitous shingles (df > 50) dropped first —
    // the standard stop-shingle bound that keeps the self-join from going
    // quadratic on common trigrams (documented metric deviation: numerator
    // counts rare shared shingles only; denominators are the full sets)
    QueryDef("q_ngram_containment",
      (s, d) => {
        // join on the 8-byte shingle hash, not the ~30-byte string (shuffle
        // volume + compare cost; the string oracle is collision-equivalent
        // at 2^-64). The filtered explode goes through Caching.materialize
        // — it is a SINGLE-consumer per-invocation barrier (both self-join
        // legs of THIS query), not a per-corpus artifact, so it belongs in
        // the registry the bench clears between passes (samples time it
        // cold); the registry's plan-level dedupe keeps re-invocations from
        // stacking cache copies (the simhash persist-barrier lesson). The
        // per-doc shingle-set size `l` rides
        // the exploded rows (one int per row) instead of a separate `lens`
        // frame: the denominators come out of the self-join's group keys,
        // which removes TWO more full-corpus scans re-running the shingle
        // HOF (the plan's nodes 34/40 pre-change) plus their two joins —
        // at 100 TB the HOF over the whole corpus is the dominant cost and
        // must run exactly once (guide §1.2/§2.3: don't recompute what a
        // carried column can answer).
        val exf = {
          // The shingle HOF pass is the dominant cold cost and must run
          // exactly ONCE, 32-wide: un-barriered, the `keep` df-count pass
          // and the semi-join's left side each re-ran the whole explode on
          // the scan's single split (JobProbe cold: 4.9 s + 3.5 s
          // single-task jobs with 31 idle cores — surfaced when the bench
          // stopped letting pass-1 caches warm pass-2 samples). So: widen
          // the thin source first (inputs at 100 TB arrive wide and skip
          // the exchange), then materialize the exploded hash frame so
          // every consumer reads the one cached pass.
          // (widen the RAW text, then project: a repartition above the
          // shingle projection would still evaluate the HOF below the
          // exchange, on the scan's one task)
          val src = graft.functions.Caching.spreadThin(
            T(s, d, "documents").select(col("doc_id"), col("text")))
          // the BARRIER sits between the shingle projection and the explode:
          // InferFiltersFromGenerate guards the explode with
          // size(sh) > 0 && isnotnull(sh), and with the projection in the
          // same plan that guard is pushed to the scan with the WHOLE
          // shingle chain re-inlined — twice per row, on the scan's one
          // task (plan-verified; JobProbe: a 1.8 s single-task filter
          // stage). Caching the sh arrays makes the guard a cheap test of
          // cached values, and the explode recompute above the cache is an
          // array scan, cheap enough for both consumers (keep + exf).
          val mid = graft.functions.Caching.materialize(src
            .select(col("doc_id"),
              TA.shinglesOf(TA.tokens(lower(col("text"))), 3).as("sh")))
          val ex = mid
            .select(col("doc_id"), size(col("sh")).as("l"),
              explode(col("sh")).as("s"))
            .select(col("doc_id"), col("l"), xxhash64(col("s")).as("s"))
          val keep = ex.groupBy("s").agg(count(lit(1)).as("df"))
            .where(col("df").between(2, 50)).select("s")
          // hash-distribute by the join key BEFORE the persist: the cache
          // otherwise inherits its source's partitioning, which ran the
          // whole a×b join + pair aggregate as ONE task (JobProbe: a
          // 1.05 s single-task stage with 31 idle cores). InMemoryRelation
          // preserves outputPartitioning, so both self-join legs read the
          // cache already partitioned on `s` — parallel AND exchange-free
          // (guide §2.4).
          graft.functions.Caching.materialize(
            ex.join(keep, Seq("s"), "left_semi")
              .repartition(s.sparkContext.defaultParallelism, col("s")))
        }
        exf.as("a")
          .join(exf.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          // la/lb are functionally dependent on the doc ids, so grouping by
          // them changes no group — it just carries the denominators through
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.l").as("la"), col("b.l").as("lb"))
          .agg(count(lit(1)).as("c"))
          .select(col("id_a"), col("id_b"),
            (col("c").cast("double") / col("la")).as("c_ab"),
            (col("c").cast("double") / col("lb")).as("c_ba"))
          .where(greatest(col("c_ab"), col("c_ba")) >= 0.5)
          .sortBy(col("id_a"), col("id_b"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
             |    THEN list_transform(generate_series(1, len(t) - 2),
             |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [array_to_string(t, ' ')] END) AS sh FROM toks),
             |ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
             |keep AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) BETWEEN 2 AND 50),
             |exf AS (SELECT doc_id, s FROM ex WHERE s IN (SELECT s FROM keep)),
             |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
             |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |lens AS (SELECT doc_id, len(sh) AS l FROM sh)
             |SELECT id_a, id_b, c_ab, c_ba FROM (
             |  SELECT id_a, id_b, CAST(c AS DOUBLE) / la.l AS c_ab,
             |    CAST(c AS DOUBLE) / lb.l AS c_ba
             |  FROM inter JOIN lens la ON la.doc_id = id_a
             |    JOIN lens lb ON lb.doc_id = id_b)
             |WHERE GREATEST(c_ab, c_ba) >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // Unicode NFC normalization (graft_nfc, the UAX #15 canonical
    // composition via java.text.Normalizer — the pre-tokenization cleanup an
    // LLM corpus applies so "é" and "e +  ́" dedup/tokenize identically);
    // DuckDB's nfc_normalize is the independent oracle. NFKC (compatibility
    // fold) ships alongside, unit-proven on published vectors.
    QueryDef("q_unicode_nfc",
      (s, d) => {
        // decomposed on purpose: e + U+0301 combining acute, A + U+030A ring
        val raw = concat(lit("Cafe\u0301 "), col("source"), lit(" A\u030Ab"))
        T(s, d, "documents").where(col("doc_id") % 25 === 0)
          .select(col("doc_id"), raw.as("raw"),
            call_function("graft_nfc", raw).as("norm"))
          .withColumn("changed", (col("raw") =!= col("norm")).cast("int"))
          .withColumn("len_raw", length(col("raw")))
          .withColumn("len_norm", length(col("norm")))
          .sortBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  'Cafe' || chr(769) || ' ' || source || ' A' || chr(778) || 'b' AS raw,
             |  nfc_normalize('Cafe' || chr(769) || ' ' || source || ' A'
             |    || chr(778) || 'b') AS norm,
             |  CASE WHEN 'Cafe' || chr(769) || ' ' || source || ' A' || chr(778) || 'b'
             |    <> nfc_normalize('Cafe' || chr(769) || ' ' || source || ' A'
             |      || chr(778) || 'b') THEN 1 ELSE 0 END AS changed,
             |  length('Cafe' || chr(769) || ' ' || source || ' A' || chr(778) || 'b') AS len_raw,
             |  length(nfc_normalize('Cafe' || chr(769) || ' ' || source || ' A'
             |    || chr(778) || 'b')) AS len_norm
             |FROM documents WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin)),

    // --- training-data shaping ----------------------------------------------
    // Exact substring-span dedup (Lee et al. 2022: remove repeated SPANS,
    // not whole docs — the in-page boilerplate doc-level dedup misses). A
    // duplicate is any 5-token window whose content appeared at a smaller
    // (doc, pos); removed tokens are those a duplicate span covers. The
    // oracle replays the portable span hash and the keep-first window rank.
    QueryDef("q_substring_dedup",
      (s, d) => Dedup.substringSpanStats(T(s, d, "documents"), "text", "doc_id", 5)
        .withColumnRenamed("id", "doc_id")
        .sortBy(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |spans AS (
             |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 5)) AS pos
             |  FROM toks WHERE len(t) >= 5),
             |hashed AS (
             |  SELECT doc_id, pos,
             |    ('0x' || substr(md5(array_to_string(t[pos+1 : pos+5], ' ')), 1, 15))::BIGINT AS h
             |  FROM spans),
             |ranked AS (
             |  SELECT doc_id, pos,
             |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             |  FROM hashed),
             |dups AS (SELECT doc_id, pos FROM ranked WHERE rn > 1),
             |covered AS (
             |  SELECT DISTINCT doc_id, pos + x.x AS tp
             |  FROM dups, (SELECT unnest(generate_series(0, 4)) AS x) x)
             |SELECT t.doc_id AS doc_id,
             |  CAST(len(t.t) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(d.ds, 0) AS BIGINT) AS dup_spans,
             |  CAST(COALESCE(c.rem, 0) AS BIGINT) AS removed_tokens
             |FROM toks t
             |LEFT JOIN (SELECT doc_id, COUNT(*) AS ds FROM dups GROUP BY 1) d
             |  ON d.doc_id = t.doc_id
             |LEFT JOIN (SELECT doc_id, COUNT(*) AS rem FROM covered GROUP BY 1) c
             |  ON c.doc_id = t.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    // generative models for the target slice (lang='en', the curated stand-in)
    // vs the raw pool; per-doc log importance weight decides keep/drop. The
    // per-bucket log ratios are quantized to integer micro-nats at the
    // 4096-row model so every per-doc score is an exact integer sum — see
    // Dsir.scala for the engine-portability argument; the oracle replays
    // the identical quantized chain.
    QueryDef("q_dsir_weights",
      (s, d) => graft.functions.Dsir.importanceWeights(
          T(s, d, "documents"), "text", "doc_id", col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .sortBy(col("doc_id")),
      Some(dsirOracleCtes +
        """SELECT doc_id, nf AS n_feats, s AS logw_micro,
          |  CAST(s AS DOUBLE) / 1e6 AS logw,
          |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS keep
          |FROM sc ORDER BY doc_id""".stripMargin)),

    // In-engine hashed-n-gram quality classifier (NgramQuality.scala): the
    // CCNet/fastText-style gate — closed-form multinomial Naive Bayes over
    // the DSIR feature stream, trained on a labeled SLICE (doc_id%3==0,
    // positive = lang 'en'), scoring the WHOLE corpus. Integer micro-nat
    // model + prior (the DSIR quantization convention), so every logit is
    // an exact integer sum; labeled-unseen buckets get the fully-smoothed
    // default weight through a LEFT join + coalesce (scoring a corpus
    // disjoint from the training slice makes unseen buckets the normal
    // case). The oracle replays the entire quantized chain: features →
    // class-conditional counts → log-odds + default + prior → per-doc sum.
    // (The fixture's lang label is uncorrelated with its synthetic text, so
    // held-out accuracy is chance — the LEARNING mechanism is proven by the
    // planted separable-vocabulary unit contract in CurationSpec; this row
    // proves the distributed chain bit-exactly, the q_dsir_weights posture.)
    QueryDef("q_quality_classifier",
      (s, d) => graft.functions.NgramQuality.classify(
          T(s, d, "documents"), "text", "doc_id",
          T(s, d, "documents").where(col("doc_id") % 3 === 0),
          col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .sortBy(col("doc_id")),
      Some(s"""WITH $nbModelCtes,
             |db AS (SELECT doc_id, b, COUNT(*) AS n FROM feats GROUP BY 1, 2),
             |sc AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS nf,
             |    CAST(SUM(n * COALESCE(wq, wq0)) AS BIGINT) AS s
             |  FROM db LEFT JOIN w USING (b), w0 GROUP BY doc_id)
             |SELECT doc_id, nf AS n_feats, s + pq AS logit_micro,
             |  CAST(s + pq AS DOUBLE) / 1e6 AS logit,
             |  CASE WHEN s + pq > 0 THEN 1 ELSE 0 END AS pred
             |FROM sc, pri ORDER BY doc_id""".stripMargin)),

    // Line-level boilerplate removal (the C4/Gopher cleanup: drop lines that
    // repeat across ≥20 documents — footers, nav chrome). Lines are
    // constructed deterministically (10-token groups + a per-source footer,
    // the URL-dedup synthetic-fixture precedent); the high-df line set is a
    // small broadcast array and each doc is rebuilt ORDER-PRESERVING with a
    // filter HOF — one explode pass for counting, zero per-doc shuffles, and
    // the cleaned content is md5-proven byte-identical to the oracle's
    QueryDef("q_line_boilerplate",
      (s, d) => {
        // widened BEFORE the lines construction (spreadThin — the input-side
        // form of the r18 output-spread): the split + slice + concat chain
        // is the expensive stage and an output-side spread still ran it on
        // the scan's one split. The barrier then computes it once, 32-wide,
        // for BOTH the boilerplate-df leg and the final cleaned-output leg
        // (un-barriered it re-ran per leg; JobProbe: one-core stages).
        val docs = graft.functions.Caching.spreadThin(
            T(s, d, "documents").select(col("doc_id"), col("source"), col("text")))
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        val withLines = graft.functions.Caching.materialize(
          docs.select(col("doc_id"),
            concat(
              transform(sequence(lit(0), floor((size(col("toks")) - 1) / 10.0).cast("int")),
                i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10)))),
              array(concat(lit("subscribe to "), col("source")))).as("lines")))
        val ln = withLines.select(col("doc_id"), explode(col("lines")).as("line"))
        val boiler = ln.groupBy(lower(trim(col("line"))).as("norm"))
          .agg(countDistinct(col("doc_id")).as("df")).where(col("df") >= 20)
        val bl = boiler.agg(sort_array(collect_list(col("norm"))).as("bl"))
        withLines.crossJoin(broadcast(bl))
          .select(col("doc_id"), size(col("lines")).as("n_lines"),
            filter(col("lines"),
              x => !array_contains(col("bl"), lower(trim(x)))).as("cleaned"))
          .select(col("doc_id"), col("n_lines"), size(col("cleaned")).as("n_kept"),
            (col("n_lines") - size(col("cleaned"))).as("n_removed"),
            md5(array_join(col("cleaned"), " | ")).as("chash"))
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
             |  FROM documents),
             |l AS (SELECT doc_id, list_append(
             |    list_transform(generate_series(0, (len(toks) - 1) // 10),
             |      i -> array_to_string(toks[i*10+1 : i*10+10], ' ')),
             |    'subscribe to ' || source) AS lines FROM t),
             |e AS (SELECT doc_id, unnest(lines) AS line FROM l),
             |b AS (SELECT lower(trim(line)) AS norm FROM e
             |  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 20),
             |bl AS (SELECT list(norm ORDER BY norm) AS bl FROM b),
             |c AS (SELECT doc_id, len(lines) AS n_lines,
             |    list_filter(lines,
             |      x -> NOT list_contains(bl.bl, lower(trim(x)))) AS cleaned
             |  FROM l, bl)
             |SELECT doc_id, n_lines, len(cleaned) AS n_kept,
             |  n_lines - len(cleaned) AS n_removed,
             |  md5(array_to_string(cleaned, ' | ')) AS chash
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Overlapping document chunking (size 200, overlap 50 chars — the
    // retrieval/window-prep primitive): chunk count is the closed form
    // max(1, ceil((len − overlap)/(size − overlap))), chunks materialize as
    // an explode over a sequence — scan-side, no shuffle, and the chunk
    // CONTENT is checked via md5 so the oracle proves byte-identical slices
    QueryDef("q_doc_chunks",
      (s, d) => {
        val size = 200; val overlap = 50; val step = size - overlap
        val docs = T(s, d, "documents").where(col("doc_id") % 10 === 0)
          .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        docs
          .withColumn("nch", greatest(lit(1),
            ceil((col("len") - overlap).cast("double") / step).cast("int")))
          .withColumn("ci", explode(sequence(lit(0), col("nch") - 1)))
          .select(col("doc_id"), col("ci"),
            (col("ci") * step).as("start0"),
            length(substr(col("text"), col("ci") * step + 1, lit(size))).as("clen"),
            md5(substr(col("text"), col("ci") * step + 1, lit(size))).as("chash"))
          .sortBy(col("doc_id"), col("ci"))
      },
      Some("""WITH b AS (SELECT doc_id, text, LENGTH(text) AS len,
             |    GREATEST(1, CAST(CEIL(CAST(LENGTH(text) - 50 AS DOUBLE) / 150)
             |      AS INT)) AS nch
             |  FROM documents WHERE doc_id % 10 = 0),
             |c AS (SELECT doc_id, text, CAST(ci AS INT) AS ci FROM b,
             |  LATERAL unnest(generate_series(0, nch - 1)) AS u(ci))
             |SELECT doc_id, ci, ci * 150 AS start0,
             |  LENGTH(substr(text, ci * 150 + 1, 200)) AS clen,
             |  md5(substr(text, ci * 150 + 1, 200)) AS chash
             |FROM c ORDER BY doc_id, ci""".stripMargin)),

    // Sequential sequence packing (group docs into ~4096-token training
    // bins): bin id = floor(inclusive-cumulative-tokens / 4096) along the
    // doc_id order, computed by the DISTRIBUTED restart-free cumsum
    // (serializedRowFns — range partition + per-partition offsets, no
    // single-partition window). Documented deviation from first-fit: a doc
    // lands in the bin of its cumulative END, so bins hold ≤4096 tokens
    // plus at most one straddling doc — the standard streaming packing.
    QueryDef("q_seq_packing",
      (s, d) => {
        import graft.kql.Kql
        val docs = T(s, d, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).as("tok"))
        val cum = Kql.serializedRowFns(docs, Seq(col("doc_id")),
          Seq(Kql.CumSumOf("cum", col("tok"))))
        cum.withColumn("bin", floor((col("cum") - 1) / 4096L))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .sortBy(col("bin"))
      },
      Some("""WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT doc_id, tok,
             |    SUM(tok) OVER (ORDER BY doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum FROM t)
             |SELECT CAST(FLOOR((cum - 1) / 4096) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM c GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Deterministic global shuffle: the training-order permutation every
    // pretraining run applies to its corpus. orderBy(rand()) is neither
    // retry-reproducible nor engine-portable; the permutation key is
    // md5("seed:id") and the global position is the DISTRIBUTED serialized
    // row numbering (range partition + per-partition offsets — no
    // single-partition window; plan-asserted in PlanAuditSpec).
    QueryDef("q_det_shuffle",
      (s, d) => graft.functions.Sampling.deterministicShuffle(
          T(s, d, "documents").select(col("doc_id")), col("doc_id"), 42L)
        .sortBy(col("pos")),
      Some("""SELECT doc_id, CAST(ROW_NUMBER() OVER (
             |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pos
             |FROM documents ORDER BY pos""".stripMargin)),

    // Token-budget corpus selection: rank by an integral quality score
    // (distinct-token count here; DSIR weights and quality scores plug in
    // the same way) and keep the maximal prefix whose cumulative token
    // count fits the budget — the "best N tokens" cut after scoring.
    // Running total = the distributed restart-free cumsum; integer-exact
    // end to end, so the cut row is identical in any engine.
    QueryDef("q_token_budget",
      (s, d) => {
        val scored = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).as("tok"),
          size(array_distinct(split(lower(col("text")), " ")))
            .cast("long").as("score"))
        graft.functions.Sampling.selectByTokenBudget(scored, col("score"),
            col("tok"), col("doc_id"), 8000L)
          .select(col("doc_id"), col("score"), col("cum_tokens"))
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    len(string_split(text, ' ')) AS tok,
             |    len(list_distinct(string_split(lower(text), ' '))) AS score
             |  FROM documents),
             |c AS (SELECT doc_id, score, tok,
             |    SUM(tok) OVER (ORDER BY score DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM t)
             |SELECT doc_id, CAST(score AS BIGINT) AS score,
             |  CAST(cum AS BIGINT) AS cum_tokens
             |FROM c WHERE cum <= 8000 ORDER BY doc_id""".stripMargin)),

    // Curriculum quantile binning: k equal-population bins by the GLOBAL
    // rank of a difficulty score (token count here) — order training data
    // easy→hard and consume bins in sequence. Exact global quantiles are
    // two passes (count + the distributed serialized row numbering); the
    // naive NTILE window would sort the world in one task.
    QueryDef("q_curriculum_bins",
      (s, d) => {
        val scored = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("score"))
        graft.functions.Sampling.quantileBins(scored, col("score"),
            col("doc_id"), 4)
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    len(string_split(text, ' ')) AS score FROM documents),
             |r AS (SELECT doc_id, score,
             |    ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rn,
             |    COUNT(*) OVER () AS n FROM t)
             |SELECT doc_id, CAST(score AS BIGINT) AS score,
             |  CAST(FLOOR((rn - 1) * 4 / n) AS INT) AS bin
             |FROM r ORDER BY doc_id""".stripMargin)),

    // WITHIN-document repeated-line removal (the Dolma/C4 cleanup that
    // precedes cross-document dedup: nav chrome repeats inside one crawled
    // page too). Lines are constructed deterministically (the
    // q_line_boilerplate idiom) with PLANTED intra-doc duplicates — the
    // first 10-token group and the footer appended again — and the cleanup
    // keeps first occurrences order-preserving. Pure per-row scalar: no
    // shuffle, no state, streaming-safe; cleaned content md5-proven.
    QueryDef("q_line_dedup_within",
      (s, d) => {
        import graft.functions.{TextAnalysis => TA}
        val docs = T(s, d, "documents")
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        val withLines = docs.select(col("doc_id"),
          concat(
            transform(sequence(lit(0), floor((size(col("toks")) - 1) / 10.0).cast("int")),
              i => concat_ws(" ", slice(col("toks"), i * 10 + 1, lit(10)))),
            array(concat(lit("subscribe to "), col("source"))),
            array(concat_ws(" ", slice(col("toks"), 1, 10)),
              concat(lit("subscribe to "), col("source")))).as("lines"))
        withLines.select(col("doc_id"), size(col("lines")).as("n_lines"),
            TA.firstOccurrences(col("lines")).as("cleaned"))
          .select(col("doc_id"), col("n_lines"), size(col("cleaned")).as("n_kept"),
            (col("n_lines") - size(col("cleaned"))).as("n_removed"),
            md5(array_join(col("cleaned"), " | ")).as("chash"))
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
             |  FROM documents),
             |l AS (SELECT doc_id, list_concat(
             |    list_append(
             |      list_transform(generate_series(0, (len(toks) - 1) // 10),
             |        i -> array_to_string(toks[i*10+1 : i*10+10], ' ')),
             |      'subscribe to ' || source),
             |    [array_to_string(toks[1 : 10], ' '),
             |     'subscribe to ' || source]) AS lines FROM t),
             |c AS (SELECT doc_id, len(lines) AS n_lines,
             |    list_filter(lines,
             |      (x, i) -> list_position(lines, x) = i) AS cleaned FROM l)
             |SELECT doc_id, n_lines, len(cleaned) AS n_kept,
             |  n_lines - len(cleaned) AS n_removed,
             |  md5(array_to_string(cleaned, ' | ')) AS chash
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Host-graph PageRank (HostRank.pageRank): the web-reputation signal
    // CCNet-class curation ranks hosts by before filtering. Integer-exact
    // (micro-unit ranks, integral div/mult/sum only — the DSIR convention),
    // so 3 damped iterations replay bit-for-bit as 3 unrolled CTEs. The
    // fixture graph is derived deterministically from the documents table:
    // source → hub h(doc_id%23) for every doc, hub → lang for every third —
    // a 48-node multigraph with real in-degree skew.
    QueryDef("q_host_pagerank",
      (s, d) => {
        // pageRank returns a PERSISTED, caller-owned frame (its documented
        // cache contract): memoize it per (session, sf) so repeated bench/
        // verify invocations reuse ONE cached table instead of leaking one
        // block-manager entry (and one materialization job) per call
        SessionArtifacts.get(s, "pagerank", d) {
          val docs = T(s, d, "documents")
          val hub = concat(lit("h"), (col("doc_id") % 23).cast("string"))
          val edges = docs.select(col("source").as("src"), hub.as("dst"))
            .union(docs.where(col("doc_id") % 3 === 0)
              .select(hub.as("src"), col("lang").as("dst")))
          graft.functions.HostRank.pageRank(edges, "src", "dst", iters = 3)
        }.sortBy(col("node"))
      },
      Some("""WITH e AS (
             |  SELECT source AS src, 'h' || CAST(doc_id % 23 AS VARCHAR) AS dst
             |  FROM documents
             |  UNION ALL
             |  SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) AS src, lang AS dst
             |  FROM documents WHERE doc_id % 3 = 0),
             |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
             |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
             |r1 AS (SELECT n.node, CAST(150000 +
             |    (850 * CAST(COALESCE(SUM(c.contrib), 0) AS BIGINT)) // 1000
             |    AS BIGINT) AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS nd, r0.r // od.outdeg AS contrib
             |    FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src) c
             |  ON n.node = c.nd GROUP BY n.node),
             |r2 AS (SELECT n.node, CAST(150000 +
             |    (850 * CAST(COALESCE(SUM(c.contrib), 0) AS BIGINT)) // 1000
             |    AS BIGINT) AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS nd, r1.r // od.outdeg AS contrib
             |    FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src) c
             |  ON n.node = c.nd GROUP BY n.node),
             |r3 AS (SELECT n.node, CAST(150000 +
             |    (850 * CAST(COALESCE(SUM(c.contrib), 0) AS BIGINT)) // 1000
             |    AS BIGINT) AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT e.dst AS nd, r2.r // od.outdeg AS contrib
             |    FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src) c
             |  ON n.node = c.nd GROUP BY n.node)
             |SELECT node, r AS rank_micro FROM r3 ORDER BY node""".stripMargin)),

    // Temperature-scaled domain mixture (Sampling.temperatureMixture):
    // keep-rate ∝ n^α/n per language under a 250-row budget at α = 0.5 —
    // low-resource langs keep a HIGHER fraction (the T5/LLaMA rebalancing).
    // Weight quantized to integer micro-units before the Σ; the float tail
    // is single-rounded per op (sqrt is IEEE-exact; ×2²⁴ is exact), so the
    // 24-bit hash threshold replays bit-for-bit.
    QueryDef("q_temperature_mix",
      (s, d) => graft.functions.Sampling.temperatureMixture(
          T(s, d, "documents"), col("lang"), col("doc_id"),
          alphaQuarters = 2, budget = 250L)
        .summarize(Seq(col("lang"), col("keep_ppm")),
          count(lit(1)).as("n_kept"))
        .sortBy(col("lang")),
      Some(tempmixRateCtes +
        """SELECT d.lang, r.keep_ppm, COUNT(*) AS n_kept
          |FROM documents d JOIN r ON d.lang = r.dom
          |WHERE ('0x' || substr(md5(d.lang || ':' ||
          |    CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT < r.keep_ppm
          |GROUP BY 1, 2 ORDER BY d.lang""".stripMargin)),

    // Token-budget waterfilling (Sampling.budgetWaterfill): the LLaMA-class
    // "epochs per domain" allocation — budget split proportional-to-weight,
    // each domain capped at 1.5 epochs of itself, freed budget
    // redistributed among the uncapped. Inverse-size weights force a
    // multi-tier cap cascade (three langs cap in round 1, zh in round 2,
    // en absorbs the tail in round 3). Integer-exact: three unrolled CTE
    // rounds replay the allocation bit-for-bit.
    QueryDef("q_mixture_waterfill",
      (s, d) => graft.functions.Sampling.budgetWaterfill(langDomains(s, d),
          col("dom"), col("nt"), col("w"), capMilli = 1500, budget = 27000L)
        .sortBy(col("dom")),
      Some(waterfillOracleCtes +
        """SELECT dom, n_tok, wq, CAST(alloc AS BIGINT) AS alloc,
          |  CAST((alloc * 1000) // n_tok AS BIGINT) AS epochs_milli
          |FROM r3 ORDER BY dom""".stripMargin)),

    // Epoch expansion (Sampling.epochExpand): materialize the waterfill
    // allocation into the physical training corpus — every doc repeats per
    // full epoch of its domain plus a deterministic hash-fraction replica
    // for the fractional epoch (en lands at 0.33 epochs → a 33% subset at
    // epoch 0; the capped langs at 1.5 → all docs at epoch 0, ~half at
    // epoch 1). waterfill → epochExpand → deterministicShuffle is the full
    // recipe path.
    QueryDef("q_epoch_expand",
      (s, d) => {
        val alloc = graft.functions.Sampling.budgetWaterfill(langDomains(s, d),
          col("dom"), col("nt"), col("w"), capMilli = 1500, budget = 27000L)
        graft.functions.Sampling.epochExpand(
            T(s, d, "documents").select(col("doc_id"), col("lang")),
            col("lang"), col("doc_id"), alloc)
          .summarize(Seq(col("lang"), col("epoch")),
            count(lit(1)).as("n_docs"))
          .sortBy(col("lang"), col("epoch"))
      },
      Some(waterfillOracleCtes +
        """, al AS (SELECT dom, (alloc * 1000) // n_tok AS em FROM r3),
             |ex AS (SELECT dom, em // 1000 AS f, em % 1000 AS fr FROM al),
             |e AS (SELECT d.doc_id, d.lang, t.epoch
             |  FROM documents d JOIN ex ON d.lang = ex.dom
             |  CROSS JOIN UNNEST(generate_series(0,
             |    ex.f + CASE WHEN ex.fr > 0 THEN 1 ELSE 0 END - 1)) t(epoch)
             |  WHERE t.epoch < ex.f OR ('0x' || substr(md5(
             |    CAST(t.epoch AS VARCHAR) || ':' || d.lang || ':' ||
             |    CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT
             |      < (ex.fr * 16777216) // 1000)
             |SELECT lang, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n_docs
             |FROM e GROUP BY 1, 2 ORDER BY lang, epoch""".stripMargin)),

    // Exact block packing (Sampling.blockPack): concatenate the corpus in
    // doc_id order and cut fixed 2048-token training blocks — documents
    // SPLIT at block boundaries (n_partial counts the boundary-crossing
    // segments), so every block is exactly 2048 tokens except the last.
    // The complement of q_seq_packing's whole-doc binning.
    QueryDef("q_block_pack",
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        graft.functions.Sampling.blockPack(docs, col("tok"), col("doc_id"),
            blockSize = 2048L)
          .summarize(Seq(col("block")),
            count(lit(1)).as("n_segments"),
            sum(col("seg_tokens")).as("n_tokens"),
            sum(when(col("seg_tokens") < col("tok"), 1L).otherwise(0L))
              .as("n_partial"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .sortBy(col("block"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
             |  FROM documents WHERE len(string_split(text, ' ')) > 0),
             |c AS (SELECT doc_id, tok, CAST(SUM(tok) OVER (ORDER BY doc_id
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
             |sp AS (SELECT doc_id, tok, cum - tok AS st, cum, u.block
             |  FROM c, UNNEST(generate_series((cum - tok) // 2048,
             |    (cum - 1) // 2048)) u(block)),
             |sg AS (SELECT doc_id, tok, block,
             |    LEAST(cum, (block + 1) * 2048) - GREATEST(st, block * 2048)
             |      AS seg FROM sp)
             |SELECT CAST(block AS BIGINT) AS block, COUNT(*) AS n_segments,
             |  CAST(SUM(seg) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN seg < tok THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_partial,
             |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
             |FROM sg GROUP BY 1 ORDER BY block""".stripMargin)),

    // Shuffle→pack composition: blocks cut over the TRAINING order (the
    // deterministic permutation), not the storage order — the actual
    // pretraining assembly. first_pos/last_pos per block prove the blocks
    // follow the permutation; token conservation proves the cut.
    QueryDef("q_pack_shuffled",
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        val shuffled = graft.functions.Sampling.deterministicShuffle(
          docs, col("doc_id"), seed = 42L)
        graft.functions.Sampling.blockPack(shuffled, col("tok"),
            col("doc_id"), blockSize = 2048L, order = Seq(col("pos")))
          .summarize(Seq(col("block")),
            count(lit(1)).as("n_segments"),
            sum(col("seg_tokens")).as("n_tokens"),
            min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
          .sortBy(col("block"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
             |  FROM documents),
             |sh AS (SELECT doc_id, tok, CAST(ROW_NUMBER() OVER (
             |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id)
             |    AS INT) AS pos FROM t),
             |c AS (SELECT doc_id, tok, pos, CAST(SUM(tok) OVER (
             |    ORDER BY pos, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |    AS cum FROM sh WHERE tok > 0),
             |sp AS (SELECT doc_id, tok, pos, cum - tok AS st, cum, u.block
             |  FROM c, UNNEST(generate_series((cum - tok) // 2048,
             |    (cum - 1) // 2048)) u(block)),
             |sg AS (SELECT pos, block,
             |    LEAST(cum, (block + 1) * 2048) - GREATEST(st, block * 2048)
             |      AS seg FROM sp)
             |SELECT CAST(block AS BIGINT) AS block, COUNT(*) AS n_segments,
             |  CAST(SUM(seg) AS BIGINT) AS n_tokens,
             |  MIN(pos) AS first_pos, MAX(pos) AS last_pos
             |FROM sg GROUP BY 1 ORDER BY block""".stripMargin)),

    // Deterministic ratio interleaving (Sampling.ratioInterleave): stride
    // scheduling orders the stream so EVERY prefix holds the sources in the
    // requested ratio (en 2 : zh 1 : es 1; de/fr have no ratio and drop) —
    // the exact-mixing guarantee the hash shuffle deliberately does not
    // give. The first 30 positions are emitted directly: the pattern is
    // visible in the output and the whole chain replays in SQL.
    QueryDef("q_ratio_interleave",
      (s, d) => graft.functions.Sampling.ratioInterleave(
          T(s, d, "documents").select(col("doc_id"), col("lang")),
          col("lang"), col("doc_id"), Map("en" -> 2, "zh" -> 1, "es" -> 1))
        .where(col("pos") <= 30)
        .select(col("pos"), col("lang"), col("doc_id"))
        .sortBy(col("pos")),
      Some("""WITH f AS (SELECT doc_id, lang,
             |    CASE lang WHEN 'en' THEN 2 WHEN 'zh' THEN 1 WHEN 'es' THEN 1
             |      END AS r
             |  FROM documents WHERE lang IN ('en', 'zh', 'es')),
             |n AS (SELECT doc_id, lang, r, ROW_NUMBER() OVER (
             |    ORDER BY lang, md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM f),
             |o AS (SELECT lang AS src, MIN(rn) AS base FROM n GROUP BY 1),
             |v AS (SELECT doc_id, lang,
             |    (CAST(rn AS BIGINT) - base + 1) * 1000000 // r AS vt
             |  FROM n JOIN o ON n.lang = o.src),
             |p AS (SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (
             |    ORDER BY vt, lang, doc_id) AS INT) AS pos FROM v)
             |SELECT pos, lang, doc_id FROM p WHERE pos <= 30
             |ORDER BY pos""".stripMargin)),

    // FULL RECIPE composition — the whole curation path as ONE plan, one
    // oracle: exact dedup (normalized-content keep-first) → quality gate
    // (≥30 tokens) → per-lang waterfill allocation ON THE SURVIVORS →
    // epoch expansion → epoch-aware deterministic training shuffle →
    // per-lang summary with a PERMUTATION-SENSITIVE integer checksum
    // (Σ pos·(doc_id mod 997)): any stage producing a different survivor
    // set, allocation, replica set, or training ORDER changes the output.
    // Every stage is the library operator, not a reimplementation.
    QueryDef("q_full_recipe",
      (s, d) => {
        import graft.functions.{Dedup, Sampling}
        val sv = Dedup.exactDedup(T(s, d, "documents"), "text", "doc_id")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("tok"))
          .where(col("tok") >= 30)
        val doms = sv.groupBy(col("lang").as("dom"))
          .agg(sum("tok").as("nt"), count(lit(1)).as("nd"))
          .select(col("dom"), col("nt"), expr("1000000 div nd").as("w"))
        val alloc = Sampling.budgetWaterfill(doms, col("dom"), col("nt"),
          col("w"), capMilli = 1500, budget = 20000L)
        val expanded = Sampling.epochExpand(sv, col("lang"), col("doc_id"), alloc)
          .withColumn("rid",
            concat(col("doc_id").cast("string"), lit(":"),
              col("epoch").cast("string")))
        Sampling.deterministicShuffle(expanded, col("rid"), seed = 7L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("doc_id").as("n_docs"),
            max("epoch").as("max_epoch"),
            sum("tok").as("n_tokens"),
            sum(col("pos").cast("long") * (col("doc_id") % 997L)).as("order_sum"))
          .sortBy(col("lang"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, lang, text FROM (
             |    SELECT doc_id, lang, text, ROW_NUMBER() OVER (
             |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             |      ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1),
             |sv AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
             |  FROM dd WHERE len(string_split(text, ' ')) >= 30),
             |doms AS (SELECT lang AS dom, CAST(SUM(tok) AS BIGINT) AS n_tok,
             |    CAST(1000000 // COUNT(*) AS BIGINT) AS wq FROM sv GROUP BY 1),
             |${waterfillCascadeCtes(20000L, 1500)},
             |$recipeTailCtes""".stripMargin)),

    // FULL RECIPE with the LEARNED quality gate: the q_full_recipe skeleton
    // (exact dedup → gate → waterfill on survivors → epoch expansion →
    // deterministic shuffle → permutation-sensitive checksum) with the
    // hashed n-gram NB classifier replacing the token-length heuristic —
    // the gate every production pipeline actually uses. The classifier
    // trains on the labeled slice of the FULL corpus and scores the DEDUP
    // SURVIVORS (features computed post-dedup); survivors with pred=1 feed
    // the allocation. One plan, one oracle: the classifier chain, the
    // cascade, the expansion, and the training ORDER all replay bit-exact.
    QueryDef("q_recipe_classifier",
      (s, d) => {
        import graft.functions.{Dedup, NgramQuality, Sampling}
        val docs = T(s, d, "documents")
        // dedup barrier: dd is read twice below (the survivor join's left
        // side AND the classifier's scoring corpus) — materialize the one
        // window pass instead of running it per consumer. Caching.materialize
        // (the bounded-registry persist), NOT a bare persist: the barrier
        // must not accumulate CacheManager entries forever (r13 ADVICE)
        val dd = graft.functions.Caching.materialize(
          Dedup.exactDedup(docs, "text", "doc_id"))
        val kept = NgramQuality.classify(dd, "text", "doc_id",
            docs.where(col("doc_id") % 3 === 0), col("lang") === "en")
          .where(col("pred") === 1)
          .select(col("id").as("doc_id"))
        // survivor barrier: sv's lineage is dedup + classifier scoring and
        // it feeds the allocation, the expansion, AND the shuffle numbering
        // — without it each consumer job re-runs the whole gate (same
        // bounded-registry materialize, not a leaking bare persist)
        val sv = graft.functions.Caching.materialize(dd.join(kept, "doc_id")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("tok")))
        val doms = sv.groupBy(col("lang").as("dom"))
          .agg(sum("tok").as("nt"), count(lit(1)).as("nd"))
          .select(col("dom"), col("nt"), expr("1000000 div nd").as("w"))
        val alloc = Sampling.budgetWaterfill(doms, col("dom"), col("nt"),
          col("w"), capMilli = 1500, budget = 20000L)
        val expanded = Sampling.epochExpand(sv, col("lang"), col("doc_id"), alloc)
          .withColumn("rid",
            concat(col("doc_id").cast("string"), lit(":"),
              col("epoch").cast("string")))
        Sampling.deterministicShuffle(expanded, col("rid"), seed = 7L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct("doc_id").as("n_docs"),
            max("epoch").as("max_epoch"),
            sum("tok").as("n_tokens"),
            sum(col("pos").cast("long") * (col("doc_id") % 997L)).as("order_sum"))
          .sortBy(col("lang"))
      },
      Some(s"""WITH dd AS (SELECT doc_id, lang, text FROM (
             |    SELECT doc_id, lang, text, ROW_NUMBER() OVER (
             |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             |      ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1),
             |$nbModelCtes,
             |db AS (SELECT f.doc_id, b, COUNT(*) AS n FROM feats f
             |  JOIN dd USING (doc_id) GROUP BY 1, 2),
             |scc AS (SELECT doc_id,
             |    CAST(SUM(n * COALESCE(wq, wq0)) AS BIGINT) AS sc
             |  FROM db LEFT JOIN w USING (b), w0 GROUP BY doc_id),
             |sv AS (SELECT d.doc_id, d.lang,
             |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok
             |  FROM dd d JOIN scc USING (doc_id), pri
             |  WHERE scc.sc + pri.pq > 0),
             |doms AS (SELECT lang AS dom, CAST(SUM(tok) AS BIGINT) AS n_tok,
             |    CAST(1000000 // COUNT(*) AS BIGINT) AS wq FROM sv GROUP BY 1),
             |${waterfillCascadeCtes(20000L, 1500)},
             |$recipeTailCtes""".stripMargin)),

    // Diversity-maximizing selection (Sampling.diverseSelect): round-robin
    // across language clusters, best-first (distinct-token score) within
    // each — picks 1..5 are the best doc of every lang before any second
    // pick. The per-cluster window rank, then a TakeOrderedAndProject
    // top-k cut with a k-bounded pick window (plan-asserted: NO
    // rangepartitioning — see BENCH_NOTES round-12 rewrite).
    QueryDef("q_diverse_select",
      (s, d) => {
        val scored = T(s, d, "documents").select(col("doc_id"), col("lang"),
          size(array_distinct(split(lower(col("text")), " ")))
            .cast("long").as("score"))
        graft.functions.Sampling.diverseSelect(scored, col("lang"),
            col("score"), col("doc_id"), 12)
          .sortBy(col("pick"))
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |    len(list_distinct(string_split(lower(text), ' '))) AS score
             |  FROM documents),
             |r AS (SELECT doc_id, lang, score, ROW_NUMBER() OVER (
             |    PARTITION BY lang ORDER BY score DESC, doc_id) AS rr FROM t),
             |p AS (SELECT doc_id, lang, score, ROW_NUMBER() OVER (
             |    ORDER BY rr, score DESC, doc_id) AS pick FROM r)
             |SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
             |  CAST(pick AS INT) AS pick
             |FROM p WHERE pick <= 12 ORDER BY pick""".stripMargin)),

    // Weighted sampling without replacement (Sampling.weightedSample,
    // Efraimidis–Spirakis A-Res): 15 docs drawn proportional-to-token-count
    // without replacement. Key = ln(u)/w with u from the id hash (÷2⁵²
    // exact) and ln quantized to micro-nats, so the selected SET is
    // engine-exact; ties break by id.
    QueryDef("q_weighted_sample",
      (s, d) => {
        val docs = T(s, d, "documents").select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("w"))
        graft.functions.Sampling.weightedSample(docs, col("w"),
            col("doc_id"), 15)
          .sortBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             |      AS h52 FROM documents),
             |k AS (SELECT doc_id, w, CAST(FLOOR(ln(
             |    (CAST(h52 AS DOUBLE) + 1.0) / 4503599627370496.0)
             |    * 1000000.0) AS BIGINT) AS lnu FROM t WHERE w >= 1),
             |p AS (SELECT doc_id, w, ROW_NUMBER() OVER (
             |    ORDER BY CAST(lnu AS DOUBLE) / CAST(w AS DOUBLE) DESC,
             |    doc_id) AS pick FROM k)
             |SELECT doc_id, w, CAST(pick AS INT) AS pick
             |FROM p WHERE pick <= 15 ORDER BY doc_id""".stripMargin)),

    // --- corpus distribution diagnostics ------------------------------------
    // Token-distribution drift between two corpus splits as EXACT total
    // variation distance: TV = Σ|na·tb − nb·ta| / (2·ta·tb) computed in
    // integer arithmetic (one tokenize pass + one per-token aggregate +
    // a broadcast totals join), so the metric is bit-replayable — no
    // KL/log fp-ordering hazards. At corpus scale the integer products
    // need decimal widening (ta·tb beyond 2^63); the shape is unchanged.
    QueryDef("q_dist_drift",
      (s, d) => {
        val toks = T(s, d, "documents")
          .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
          .where(col("token") =!= "")
        val perTok = toks.groupBy("token").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("na"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nb"))
        val tot = perTok.agg(sum("na").as("ta"), sum("nb").as("tb"))
        perTok.crossJoin(broadcast(tot))
          .agg(sum(abs(col("na") * col("tb") - col("nb") * col("ta"))).as("num"),
            first(col("ta")).as("ta"), first(col("tb")).as("tb"))
          .select(col("num"), col("ta"), col("tb"),
            round(col("num") / (lit(2.0) * col("ta") * col("tb")), 6).as("tv"))
      },
      Some("""WITH t AS (SELECT lang,
             |    unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |p AS (SELECT token,
             |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS na,
             |    SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS nb
             |  FROM t WHERE token <> '' GROUP BY token),
             |tot AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
             |    CAST(SUM(nb) AS BIGINT) AS tb FROM p)
             |SELECT CAST(SUM(ABS(na * tb - nb * ta)) AS BIGINT) AS num,
             |  MIN(ta) AS ta, MIN(tb) AS tb,
             |  ROUND(CAST(SUM(ABS(na * tb - nb * ta)) AS DOUBLE)
             |    / (2.0 * MIN(ta) * MIN(tb)), 6) AS tv
             |FROM p, tot""".stripMargin)),

    // Temperature-based mixture weights (the LLM data-mixing rule
    // w_i ∝ n_i^α, α = 0.5): exact per-source counts, IEEE-exact sqrt
    // (correctly rounded by the standard — same bits in any engine),
    // 6-dp snap to decimal for an order-independent normalizer sum
    QueryDef("q_mixture_weights",
      (s, d) => {
        val n = T(s, d, "documents").groupBy("source").agg(count(lit(1)).as("n"))
        val sroot = n.withColumn("s",
          round(sqrt(col("n")), 6).cast("decimal(28,6)"))
        val tot = sroot.agg(sum("s").as("t"))
        sroot.crossJoin(broadcast(tot))
          .select(col("source"), col("n"),
            round(col("s").cast("double") / col("t").cast("double"), 6).as("w"))
          .sortBy(col("source"))
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
             |s AS (SELECT source, n,
             |    CAST(ROUND(SQRT(n), 6) AS DECIMAL(28,6)) AS sr FROM c),
             |t AS (SELECT SUM(sr) AS tt FROM s)
             |SELECT source, n,
             |  ROUND(CAST(sr AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS w
             |FROM s, t ORDER BY source""".stripMargin)),

    // BM25 ranked retrieval (Bm25.scala — the ranking companion to the
    // posting-list index; published Robertson plus-one IDF form). Scores
    // compared exactly (6 dp kills lib-level ln ULP skew) on a doc_id
    // subset, which avoids the top-k boundary-tie hazard while proving the
    // full scoring chain; the oracle replays tf/df/avgdl/IDF longhand.
    QueryDef("q_bm25",
      (s, d) => Bm25.score(T(s, d, "documents"), "doc_id", "text",
          "the data model and language")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .sortBy(col("doc_id")),
      Some("""WITH toks AS (
             |  SELECT doc_id, t.term FROM documents,
             |    LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
             |  WHERE t.term <> ''),
             |lens AS (SELECT d.doc_id, COALESCE(l.len, 0) AS len
             |  FROM documents d LEFT JOIN
             |    (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id) l
             |    USING (doc_id)),
             |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    AVG(CAST(len AS DOUBLE)) AS avgdl FROM lens),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  WHERE term IN ('the', 'data', 'model', 'and', 'language')
             |  GROUP BY doc_id, term),
             |dfv AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |scored AS (SELECT tf.doc_id,
             |    ln(1.0 + (c.n - dfv.df + 0.5) / (dfv.df + 0.5)) *
             |      tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / c.avgdl)) AS s
             |  FROM tf JOIN dfv USING (term) JOIN lens USING (doc_id), corpus c)
             |SELECT doc_id, ROUND(SUM(s), 6) AS score FROM scored
             |WHERE doc_id % 7 = 0 GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Hybrid retrieval: BM25 (lexical) + embedding cosine (semantic) fused
    // by reciprocal rank (RRF, k0=60 — Retrieval.scala). Ranks are total:
    // BM25 by (score@6dp DESC, doc_id) — 6 dp kills lib-level ln ULP skew,
    // the q_bm25 convention; ANN by raw cosine (the q_cosine_topk-proven
    // replay). Both top-50 lists, absent-list ranks coalesce to 0 in the
    // OUTPUT (the fused score itself treats absent as no contribution), and
    // the fused double is a fixed-arity sum of two single divisions —
    // bit-replayable. The oracle replays BOTH ranking chains and the fusion.
    QueryDef("q_hybrid_retrieval",
      (s, d) => {
        val docs = T(s, d, "documents")
        val emb = T(s, d, "embeddings")
        val bmTop = Bm25.score(docs, "doc_id", "text", "data stream filter window")
          .select(col("doc_id"), round(col("score"), 6).as("s6"))
          .orderBy(col("s6").desc, col("doc_id")).limit(50)
        // pick numbering runs on the 50 survivors only (bounded window)
        val bmRanked = bmTop.withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("s6").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank"))
        val annRanked = Similarity.bruteForceTopK(
            emb.where_(col("vec_id") === 7).projectRename("query_id" -> "vec_id"),
            emb.projectRename("corpus_id" -> "vec_id"), k = 50)
          .select(col("corpus_id").as("doc_id"), col("rank"))
        graft.functions.Retrieval.rrf(Seq(bmRanked, annRanked),
            "doc_id", "rank", topK = 15)
          .select(col("doc_id"),
            coalesce(col("r_1"), lit(0L)).as("r_bm25"),
            coalesce(col("r_2"), lit(0L)).as("r_ann"),
            col("rrf"))
          .sortBy(col("rrf").desc, col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, t.term FROM documents,
             |    LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
             |  WHERE t.term <> ''),
             |lens AS (SELECT d.doc_id, COALESCE(l.len, 0) AS len
             |  FROM documents d LEFT JOIN
             |    (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id) l
             |    USING (doc_id)),
             |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    AVG(CAST(len AS DOUBLE)) AS avgdl FROM lens),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  WHERE term IN ('data', 'stream', 'filter', 'window')
             |  GROUP BY doc_id, term),
             |dfv AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |bm AS (SELECT tf.doc_id, ROUND(SUM(
             |    ln(1.0 + (c.n - dfv.df + 0.5) / (dfv.df + 0.5)) *
             |      tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / c.avgdl))), 6) AS s6
             |  FROM tf JOIN dfv USING (term) JOIN lens USING (doc_id), corpus c
             |  GROUP BY tf.doc_id),
             |bmr AS (SELECT doc_id, r FROM (
             |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s6 DESC, doc_id) AS r
             |    FROM bm) WHERE r <= 50),
             |annr AS (SELECT doc_id, r FROM (
             |    SELECT c.vec_id AS doc_id, ROW_NUMBER() OVER (
             |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             |          c.vec_id) AS r
             |    FROM embeddings q, embeddings c
             |    WHERE q.vec_id = 7 AND c.vec_id <> 7) WHERE r <= 50)
             |SELECT doc_id, COALESCE(b.r, 0) AS r_bm25, COALESCE(a.r, 0) AS r_ann,
             |  COALESCE(1.0 / (60 + b.r), 0.0) + COALESCE(1.0 / (60 + a.r), 0.0) AS rrf
             |FROM bmr b FULL JOIN annr a USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin)),

    // DISTRIBUTED stored-index serve (Similarity.indexTopKDistributed): the
    // q_ann_index_stored contract with NO driver-side probe collect — the
    // probe assignment stays a DataFrame, rides a broadcast into the
    // candidate join, and DYNAMIC partition pruning turns that broadcast
    // into the runtime __cid partition filter on the lists scan
    // (dynamicpruningexpression, plan-asserted in PlanAuditSpec). The path
    // that serves a LARGE query table: nothing query-sized on the driver.
    // Same planted-pair contract and the same memoized index as the stored
    // row, so any drift between the two serve paths reddens one of them.
    QueryDef("q_ann_index_distributed",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // STREAMING stored-index ANN serve (Similarity.indexShortlistStream):
    // the fifth member of the stateless streaming tier — queries arrive as
    // a STREAM, probe assignment + the ADC lookup table are select-only
    // literal expressions on the stream (frozen models in the plan, no
    // state beyond the aggregation), candidates come from ONE stateless
    // stream-static equi-join against the stored lists table, and the
    // per-query shortlist is a streaming aggregation with BOUNDED TopKAgg
    // state (≤ shortlist pairs per query). The exact re-rank runs batch on
    // the bounded shortlist (streaming-candidates / batch-re-rank split).
    // Same planted-pair contract as every ANN row.
    QueryDef("q_streaming_ann_index",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val qStream = graft.streaming.StreamingIngest.loadStream(s, d, "embeddings")
          .where(col("vec_id") < 25)
          .select((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val short = graft.streaming.StreamingIngest.runBoundedAggregation(s,
          "q_streaming_annidx_sink",
          Similarity.indexShortlistStream(s, dir, qStream, EMB_DIM))
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.rerankTopK(short, queries, corpus, k = 1)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // FILTERED STREAMING serve (indexShortlistStream(allowed)): the
    // metadata pre-filter composed into the STREAMING serve path — the
    // allowed-ids frame joins the candidate stream as one more STATIC
    // semi-join side (still stateless), so the bounded shortlist spends
    // its whole budget on returnable rows and the k contract holds, the
    // same contract as q_ann_index_filtered but with queries arriving as
    // a stream. Every serve modality now composes with filtering.
    QueryDef("q_streaming_ann_filtered",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.project(col("vec_id").as("corpus_id"),
          col("embedding"), col("label"))
        val dir = builtAnnIndex(s, d, corpus)
        val allowed = corpus.where_(col("label") % 2 === 0)
          .project(col("corpus_id"))
        val qStream = graft.streaming.StreamingIngest.loadStream(s, d, "embeddings")
          .where(col("vec_id") < 25)
          .select((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val short = graft.streaming.StreamingIngest.runBoundedAggregation(s,
          "q_streaming_annfilt_sink",
          Similarity.indexShortlistStream(s, dir, qStream, EMB_DIM,
            allowed = Some(allowed)))
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.rerankTopK(short, queries, corpus, k = 1)
          .join(corpus.select(col("corpus_id"), col("label")), Seq("corpus_id"))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"),
            (col("label") % 2 === 0).as("hit_allowed"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id,
             |  (label % 2 = 0) AS found_original, true AS hit_allowed
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Stored-index APPEND + COMPACTION (Similarity.appendToIndex /
    // compactIndex — the reference's declared segment lifecycle, append +
    // periodic merge): the index is BUILT over the even-id half only, the
    // odd half is APPENDED with the frozen stored models (no retrain), and
    // the lists are compacted (rewrite + swap). The planted queries cover
    // BOTH halves, so a broken append (odd originals unsearchable) or a
    // lossy compaction reddens the row; serving goes through the
    // distributed path, so pruning must survive the rewrite too.
    QueryDef("q_ann_index_append",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        // even half written at build; odd half APPENDED with the frozen
        // models, then compacted — the full segment lifecycle on one tree
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_app",
          writeFilter = _.where_(col("corpus_id") % 2 === 0),
          buildTail = { root =>
            Similarity.appendToIndex(
              withOwnerDoc(corpus.where_(col("corpus_id") % 2 === 1)), root,
              "corpus_id", "embedding", EMB_DIM, ownerCol = "__owner_doc")
            Similarity.compactIndex(s, root)
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Stored-index shard MERGE (Similarity.mergeIndex — the parallel-build
    // composition completing the segment lifecycle beside append+compact:
    // at 100 TB the corpus encodes shard-by-shard with the SAME frozen
    // models — train once, build anywhere, in parallel — and folding a
    // shard in is pure file METADATA, per-cid renames, never a re-encode;
    // contrast q_ann_index_append, which pays assign+encode per row). The
    // even half is the destination build, the odd half builds as an
    // independent shard tree and merges in; the source tree is consumed.
    // Planted queries cover BOTH halves, so a dropped shard file, a
    // mis-routed partition, or a models mismatch reddens the row; serving
    // is the distributed path, so DPP must survive the merged layout.
    QueryDef("q_ann_index_merge",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_mrg",
          writeFilter = _.where_(col("corpus_id") % 2 === 0),
          buildTail = { root =>
            val cents = ivfModel(s, d, corpus)
            val books = pqModel(s, d, corpus)
            val shard = s"${root}__shard"
            Similarity.writeIndex(
              withOwnerDoc(corpus.where_(col("corpus_id") % 2 === 1)),
              shard, "corpus_id", "embedding", EMB_DIM,
              trainedIvf = Some(cents), trainedPq = Some(books),
              ownerCol = "__owner_doc", corpusSnapshot = "embeddings@shard")
            Similarity.mergeIndex(s, root, shard)
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // STREAMING index ingest (StreamingIngest.drainForeach +
    // Similarity.appendToIndex): the odd-id half of the corpus arrives as
    // a STREAM and is appended to the stored index per micro-batch —
    // assign+encode against the FROZEN models, new files into the cid
    // partitions — then one compaction merges the accumulated segment
    // files. The continuous-ingest form of q_ann_index_append: meerkat's
    // buffer→flush→merge lifecycle with the index as the sink. Planted
    // queries over BOTH halves; a dropped micro-batch, a non-appended row,
    // or a lossy merge reddens the row.
    QueryDef("q_streaming_index_append",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_sapp",
          writeFilter = _.where_(col("corpus_id") % 2 === 0),
          buildTail = { root =>
            // the arriving half lands as FOUR source files streamed one
            // file per trigger — four genuine micro-batches, so the
            // per-batch append + the cross-batch file accumulation are
            // actually exercised (a single-file source would collapse
            // AvailableNow into one batch = the batch append row again)
            val src = s"$root/__stream_src"
            val arriving = withOwnerDoc(corpus.where_(col("corpus_id") % 2 === 1))
            arriving.repartition(4).write.mode("overwrite").parquet(src)
            val vecStream = s.readStream
              .schema(arriving.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(src)
            // the FROZEN models read once, reused by every micro-batch
            val models = Similarity.readIndexModels(s, root)
            graft.streaming.StreamingIngest.drainForeach(vecStream, batch =>
              Similarity.appendToIndex(batch, root,
                "corpus_id", "embedding", EMB_DIM, models = Some(models),
                ownerCol = "__owner_doc"))
            Similarity.compactIndex(s, root)
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Stored-index DELETE / vacuum (Similarity.deleteFromIndex — the other
    // half of the segment lifecycle next to append+merge): the odd-id
    // originals among the planted targets are DELETED from the index
    // (only their lists rewritten — hit-cid set k-bounded, other lists
    // untouched), so their perturbed queries can no longer find them
    // (deleted ids cannot reach any shortlist) while even-id queries
    // still must. A delete that misses rows, rewrites the wrong list, or
    // corrupts an untouched one reddens the row; serving is the
    // distributed path, so pruning must survive the partial rewrite.
    QueryDef("q_ann_index_delete",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_del",
          buildTail = { root =>
            Similarity.deleteFromIndex(s, root,
              emb.where_(col("vec_id") < 25 && col("vec_id") % 2 === 1)
                .project(col("vec_id").as("corpus_id")), "corpus_id")
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id,
             |  (vec_id % 2 = 0) AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // FILTERED stored-index serve (Similarity.indexTopKDistributed(filter)):
    // the standard vector-store feature — a metadata predicate over the
    // PAYLOAD table (label % 2 = 0 — `label` is the embeddings table's
    // metadata column) composed into serving as a PRE-filter on the
    // candidate join, so the shortlist spends its whole budget on rows
    // that can be returned and the k contract holds (every query still
    // gets a row). Deterministic contract: an ALLOWED original is found
    // (planted pair); an excluded original can never be returned (it is
    // semi-joined out before the shortlist), and every returned id
    // satisfies the predicate. Reuses the same memoized index as the
    // distributed row — filtering is a serve-time argument, not an index
    // rebuild.
    QueryDef("q_ann_index_filtered",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.project(col("vec_id").as("corpus_id"),
          col("embedding"), col("label"))
        val dir = builtAnnIndex(s, d, corpus)
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM, filter = Some(col("label") % 2 === 0))
          .join(corpus.select(col("corpus_id"), col("label")), Seq("corpus_id"))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"),
            (col("label") % 2 === 0).as("hit_allowed"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id,
             |  (label % 2 = 0) AS found_original, true AS hit_allowed
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Hot-list RE-SPLIT (Similarity.splitList — the operator that consumes
    // indexStats' rows-per-list skew signal): the fattest list (max rows,
    // ties to the smaller cid — deterministic) is split in place into two
    // children via distributed 2-means over its PQ-reconstructed vectors;
    // centroid cid is replaced, the next free cid appended, every other
    // list and all codes untouched (frozen-quantizer contract). The
    // planted queries must survive the re-route: a query whose original
    // lived in the split list now probes whichever child covers its
    // region. Serving is the distributed path over the healed index.
    QueryDef("q_ann_index_split",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_spl",
          buildTail = { root =>
            val hot = Similarity.indexStats(s, root)
              .orderBy(col("rows").desc, col("__cid")).limit(1)
              .collect()(0).getInt(0)
            Similarity.splitList(s, root, hot)
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Full index REBUILD (Similarity.rebuildIndex — the retrain escape
    // hatch completing the maintenance suite append/compact/delete/split/
    // rebuild): the index is built over the EVEN half only, then rebuilt
    // from the CURRENT payload table (both halves) — quantizers retrained,
    // every vector re-encoded, whole tree swapped under the marker with
    // the staging build OUTSIDE the index dir so serving stays up for the
    // expensive phase. The planted queries cover BOTH halves, so a rebuild
    // that serves stale lists, drops the odd half, or swaps a partial tree
    // reddens the row.
    QueryDef("q_ann_index_rebuild",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_reb",
          writeFilter = _.where_(col("corpus_id") % 2 === 0),
          buildTail = { root =>
            Similarity.rebuildIndex(s, root, withOwnerDoc(corpus),
              "corpus_id", "embedding", EMB_DIM,
              corpusSnapshot = "embeddings@rebuild", ownerCol = "__owner_doc")
          })
        val queries = emb.where_(col("vec_id") < 25)
          .project((col("vec_id") + 1000000L).as("query_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.indexTopKDistributed(s, dir, queries, corpus,
            k = 1, dim = EMB_DIM)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // KQL surface for the ANN tier (`evaluate ann_search(...)`): the
    // flagship stored index reachable from the engine's own declared query
    // language (the evaluate-plugin machinery, README.md:33-34) — the
    // whole pipeline is KQL TEXT: filter, perturb (series_add over a
    // repeat() scalar array), serve from the stored index (the plugin
    // resolves dim from the index's own manifest), and project the planted
    // verdict. Same contract and the same memoized index as the
    // distributed row, so parser-path drift reddens exactly one row.
    QueryDef("q_kql_ann_search",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        KqlParser.parse(
          s"""embeddings
             || where vec_id < 25
             || project query_id = vec_id + 1000000,
             |    embedding = series_add(embedding, repeat(0.02, $EMB_DIM))
             || evaluate ann_search(embeddings, vec_id, query_id, embedding,
             |    '$dir', 1)
             || project query_id, found_original = vec_id == query_id - 1000000
             || sort by query_id asc""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""SELECT vec_id + 1000000 AS query_id, true AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // FILTERED vector search from KQL: the ann_search plugin treats its
    // CorpusTable argument as the ALLOWED payload set (candidates
    // pre-filter against it before the shortlist), so filtered search is
    // plain KQL composition — a let-bound filtered view passed as the
    // corpus. Same deterministic contract as q_ann_index_filtered
    // (allowed originals found, excluded never returned, every hit
    // satisfies the predicate, k rows per query), proven end-to-end from
    // KQL text including the verdict join.
    QueryDef("q_kql_ann_filtered",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        KqlParser.parse(
          s"""let allowed = embeddings | where label % 2 == 0;
             |embeddings
             || where vec_id < 25
             || project query_id = vec_id + 1000000,
             |    embedding = series_add(embedding, repeat(0.02, $EMB_DIM))
             || evaluate ann_search(allowed, vec_id, query_id, embedding,
             |    '$dir', 1)
             || join kind=inner (embeddings | project vec_id, label) on vec_id
             || project query_id, found_original = vec_id == query_id - 1000000,
             |    hit_allowed = label % 2 == 0
             || sort by query_id asc""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""SELECT vec_id + 1000000 AS query_id,
             |  (label % 2 = 0) AS found_original, true AS hit_allowed
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // KQL INDEX ADMINISTRATION (read-only): `evaluate index_stats('dir')`
    // exposes the stored index's per-list rows/files observability from the
    // query language — the surface an operator schedules compaction and
    // re-splits from without leaving KQL. Per-list row counts are
    // assignment-dependent (fp k-means), so the oracle checks the
    // assignment-INDEPENDENT invariants: the lists partition the corpus
    // exactly (sum(rows) = corpus count — a lost or doubled row reddens
    // it), list count is bounded by the trained k, and every list has ≥ 1
    // file. Same memoized (never-mutated) index as the serve rows.
    QueryDef("q_kql_index_stats",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        KqlParser.parse(
          s"""embeddings
             || take 1
             || evaluate index_stats('$dir')
             || summarize total_rows = sum(rows), lists_seen = count(),
             |    min_files = min(files)
             || project total_rows,
             |    lists_bounded = lists_seen >= 1 and lists_seen <= 16,
             |    files_positive = min_files >= 1""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""SELECT count(*) AS total_rows, true AS lists_bounded,
             |  true AS files_positive FROM embeddings""".stripMargin)),

    // LATE-INTERACTION (MaxSim / ColBERT-family) retrieval over
    // MULTI-VECTOR documents: each doc is a BAG of 4 token vectors (125
    // docs over the 500-vector fixture), score(q, d) = Σ over q's tokens
    // of max over d's tokens of cosine — the token-level matching that
    // single-vector pooling destroys. Planted contract: each query is an
    // original doc's token bag perturbed (+0.02/component, per-token
    // cosine ≈ 0.997 vs ≈ 0.51 natural max), so the original doc must
    // rank first; the oracle replays the FULL MaxSim brute force in SQL
    // (per-token max over all docs, per-doc sum, rank) — a broken max,
    // sum, or tie-break reddens the row, not just the verdict.
    QueryDef("q_maxsim",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpusTok = emb.project(
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val queryTok = emb.where_(col("vec_id") < 40)
          .project(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.maxSimTopK(queryTok, corpusTok, k = 1)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""WITH ct AS (
             |  SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
             |qt AS (
             |  SELECT (vec_id // 4) + 1000000 AS query_id, vec_id AS tok,
             |    list_transform(embedding, x -> x + 0.02::FLOAT) AS emb
             |  FROM embeddings WHERE vec_id < 40),
             |tok_best AS (
             |  SELECT q.query_id, q.tok, c.doc_id,
             |    max(list_cosine_similarity(q.emb, c.embedding)) AS m
             |  FROM qt q, ct c GROUP BY 1, 2, 3),
             |score AS (
             |  SELECT query_id, doc_id, sum(m) AS s
             |  FROM tok_best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |  FROM score)
             |SELECT query_id, (doc_id = query_id - 1000000) AS found_original
             |FROM ranked WHERE r = 1 ORDER BY query_id""".stripMargin)),

    // MaxSim with ColBERT-style candidate PRUNING — the serve shape that
    // scales: every query token fetches only its nProbe nearest token
    // LISTS (the memoized 16-centroid coarse quantizer), candidate docs
    // are the distinct owners of the hit tokens, and the exact MaxSim
    // re-scores candidates only — |Qtok|·|Ctok| never materializes. Same
    // planted contract and the same brute-force SQL oracle as q_maxsim:
    // a pruning miss (the near-copy tokens landing outside their
    // originals' probe sets) would redden the row.
    QueryDef("q_maxsim_pruned",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpusTok = emb.project(
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val queryTok = emb.where_(col("vec_id") < 40)
          .project(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val centroids = ivfModel(s, d, emb.projectRename("corpus_id" -> "vec_id"))
        Similarity.maxSimTopKPruned(queryTok, corpusTok, k = 1,
          dim = EMB_DIM, nProbe = 4, trained = Some(centroids))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""WITH ct AS (
             |  SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
             |qt AS (
             |  SELECT (vec_id // 4) + 1000000 AS query_id, vec_id AS tok,
             |    list_transform(embedding, x -> x + 0.02::FLOAT) AS emb
             |  FROM embeddings WHERE vec_id < 40),
             |tok_best AS (
             |  SELECT q.query_id, q.tok, c.doc_id,
             |    max(list_cosine_similarity(q.emb, c.embedding)) AS m
             |  FROM qt q, ct c GROUP BY 1, 2, 3),
             |score AS (
             |  SELECT query_id, doc_id, sum(m) AS s
             |  FROM tok_best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |  FROM score)
             |SELECT query_id, (doc_id = query_id - 1000000) AS found_original
             |FROM ranked WHERE r = 1 ORDER BY query_id""".stripMargin)),

    // MaxSim served from the STORED token index — the 100 TB composition:
    // the per-token ANN first stage reads the same memoized __cid-
    // partitioned index the ann rows serve from (each fixture vector IS a
    // token, so the default index is already a token index), candidate
    // docs are the distinct owners of hit tokens, and the exact MaxSim
    // re-scores candidates only. Same planted contract and brute-force
    // SQL oracle as q_maxsim; DPP on the lists scan is plan-asserted in
    // the unit.
    QueryDef("q_maxsim_indexed",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val corpusTok = emb.project(col("vec_id").as("token_id"),
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val queryTok = emb.where_(col("vec_id") < 40)
          .project(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.maxSimTopKIndexed(s, dir, queryTok, corpusTok, k = 1,
          nProbe = 4)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""WITH ct AS (
             |  SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
             |qt AS (
             |  SELECT (vec_id // 4) + 1000000 AS query_id, vec_id AS tok,
             |    list_transform(embedding, x -> x + 0.02::FLOAT) AS emb
             |  FROM embeddings WHERE vec_id < 40),
             |tok_best AS (
             |  SELECT q.query_id, q.tok, c.doc_id,
             |    max(list_cosine_similarity(q.emb, c.embedding)) AS m
             |  FROM qt q, ct c GROUP BY 1, 2, 3),
             |score AS (
             |  SELECT query_id, doc_id, sum(m) AS s
             |  FROM tok_best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |  FROM score)
             |SELECT query_id, (doc_id = query_id - 1000000) AS found_original
             |FROM ranked WHERE r = 1 ORDER BY query_id""".stripMargin)),

    // FILTERED MaxSim from the stored token index: the ANN tier's
    // pre-filter contract carried to late interaction — a DOC-level
    // metadata predicate (doc-id parity here: deterministic and
    // doc-granular) prunes candidates before any scoring, so the k
    // contract holds at any selectivity. Allowed originals found,
    // excluded originals provably never returned, every hit allowed.
    QueryDef("q_maxsim_filtered",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val corpusTok = emb.project(col("vec_id").as("token_id"),
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val queryTok = emb.where_(col("vec_id") < 40)
          .project(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        Similarity.maxSimTopKIndexed(s, dir, queryTok, corpusTok, k = 1,
          nProbe = 4, filter = Some(col("corpus_id") % 2 === 0))
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"),
            (col("corpus_id") % 2 === 0).as("hit_allowed"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT DISTINCT (vec_id // 4) + 1000000 AS query_id,
             |  ((vec_id // 4) % 2 = 0) AS found_original, true AS hit_allowed
             |FROM embeddings WHERE vec_id < 40 ORDER BY query_id""".stripMargin)),

    // STREAMING MaxSim: late-interaction retrieval with the query token
    // bags arriving as a STREAM — probes ride the stream's projection,
    // candidates come from stateless stream-static joins against the
    // stored token index's lists + the token-ownership map + raw corpus
    // vectors, and the ONE stateful operator is one aggregation per QUERY
    // whose state is the bounded top-shortlist doc map (MaxSimTopNAgg,
    // champion-token eviction — Spark disallows chained streaming aggs,
    // so the two-level max-then-sum collapses into a single Aggregator).
    // Batch tail ranks the bounded result. Planted pairs are admitted on
    // any schedule (champion ≈ 1.0) and scored EXACTLY (all their tokens
    // meet), so the verdict oracle is the same brute-force contract as
    // q_maxsim.
    QueryDef("q_streaming_maxsim",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val corpusTok = emb.project(col("vec_id").as("token_id"),
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val qStream = graft.streaming.StreamingIngest.loadStream(s, d, "embeddings")
          .where(col("vec_id") < 40)
          .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val scored = graft.streaming.StreamingIngest.runBoundedAggregation(s,
          "q_streaming_maxsim_sink",
          Similarity.maxSimStream(s, dir, qStream, corpusTok, nProbe = 4))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("maxsim").desc, col("corpus_id"))
        scored.withColumn("r", row_number().over(w)).where_(col("r") === 1)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT DISTINCT (vec_id // 4) + 1000000 AS query_id,
             |  true AS found_original
             |FROM embeddings WHERE vec_id < 40 ORDER BY query_id""".stripMargin)),

    // Streamed-candidates / exact-re-rank composition (the operating mode
    // SCALE.md prescribes for the streaming lane): the SAME bounded stream
    // as q_streaming_maxsim (memoized sink — the stream runs once per
    // session) yields top-5 candidates per query by approximate score,
    // and maxSimRerank re-scores the survivors against ALL their tokens —
    // exact top-1 semantics on the candidate set, planted verdict.
    QueryDef("q_streaming_maxsim_rerank",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        val corpusTok = emb.project(col("vec_id").as("token_id"),
          (col("vec_id") / 4).cast("long").as("corpus_id"), col("embedding"))
        val qStream = graft.streaming.StreamingIngest.loadStream(s, d, "embeddings")
          .where(col("vec_id") < 40)
          .select(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val scored = graft.streaming.StreamingIngest.runBoundedAggregation(s,
          "q_streaming_maxsim_sink",
          Similarity.maxSimStream(s, dir, qStream, corpusTok, nProbe = 4))
        val queryTok = emb.where_(col("vec_id") < 40)
          .project(((col("vec_id") / 4).cast("long") + 1000000L).as("query_id"),
            col("vec_id").as("token_id"),
            transform(col("embedding"), x => x + lit(0.02f)).as("embedding"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("maxsim").desc, col("corpus_id"))
        Similarity.maxSimRerank(
          scored.withColumn("r", row_number().over(w)).where_(col("r") <= 5)
            .project(col("query_id"), col("corpus_id")),
          queryTok, corpusTok, k = 1)
          .project(col("query_id"),
            (col("corpus_id") === col("query_id") - 1000000L).as("found_original"))
          .sortBy(col("query_id"))
      },
      Some("""SELECT DISTINCT (vec_id // 4) + 1000000 AS query_id,
             |  true AS found_original
             |FROM embeddings WHERE vec_id < 40 ORDER BY query_id""".stripMargin)),

    // MaxSim from KQL (`evaluate maxsim_search(...)`): the whole
    // late-interaction pipeline in query text — token-bag construction
    // (tolong floor-division doc ids), series_add perturbation, the
    // maxsim_search plugin against a let-bound corpus-token view, and the
    // planted verdict. Same contract and oracle as q_maxsim, so
    // parser-path drift reddens exactly one row.
    QueryDef("q_kql_maxsim",
      (s, d) => {
        KqlParser.parse(
          """let ct = embeddings | project corpus_id = tolong(vec_id / 4),
            |    embedding;
            |embeddings
            || where vec_id < 40
            || project query_id = tolong(vec_id / 4) + 1000000,
            |    token_id = vec_id,
            |    embedding = series_add(embedding, repeat(0.02, 64))
            || evaluate maxsim_search(ct, corpus_id, query_id, token_id,
            |    embedding, 1)
            || project query_id, found_original = corpus_id == query_id - 1000000
            || sort by query_id asc""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""WITH ct AS (
             |  SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
             |qt AS (
             |  SELECT (vec_id // 4) + 1000000 AS query_id, vec_id AS tok,
             |    list_transform(embedding, x -> x + 0.02::FLOAT) AS emb
             |  FROM embeddings WHERE vec_id < 40),
             |tok_best AS (
             |  SELECT q.query_id, q.tok, c.doc_id,
             |    max(list_cosine_similarity(q.emb, c.embedding)) AS m
             |  FROM qt q, ct c GROUP BY 1, 2, 3),
             |score AS (
             |  SELECT query_id, doc_id, sum(m) AS s
             |  FROM tok_best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |  FROM score)
             |SELECT query_id, (doc_id = query_id - 1000000) AS found_original
             |FROM ranked WHERE r = 1 ORDER BY query_id""".stripMargin)),

    // The SCALABLE MaxSim route from KQL (`evaluate maxsim_search(...,
    // 'indexDir', nProbe)`): the declared query surface now reaches the
    // stored-token-index first stage (DPP-pruned lists scan, ownership
    // from the index tree — the shared memoized index stores the owning
    // doc beside each code), not just the |Qtok|·|Ctok| exact baseline.
    // Same planted contract and the same brute-force SQL oracle as
    // q_maxsim: a pruning miss, a broken ownership read, or parser-path
    // drift reddens exactly this row.
    QueryDef("q_kql_maxsim_indexed",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus)
        KqlParser.parse(
          s"""let ct = embeddings | project token_id = vec_id,
             |    corpus_id = tolong(vec_id / 4), embedding;
             |embeddings
             || where vec_id < 40
             || project query_id = tolong(vec_id / 4) + 1000000,
             |    token_id = vec_id,
             |    embedding = series_add(embedding, repeat(0.02, 64))
             || evaluate maxsim_search(ct, corpus_id, query_id, token_id,
             |    embedding, 1, '$dir', 4)
             || project query_id, found_original = corpus_id == query_id - 1000000
             || sort by query_id asc""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""WITH ct AS (
             |  SELECT vec_id // 4 AS doc_id, embedding FROM embeddings),
             |qt AS (
             |  SELECT (vec_id // 4) + 1000000 AS query_id, vec_id AS tok,
             |    list_transform(embedding, x -> x + 0.02::FLOAT) AS emb
             |  FROM embeddings WHERE vec_id < 40),
             |tok_best AS (
             |  SELECT q.query_id, q.tok, c.doc_id,
             |    max(list_cosine_similarity(q.emb, c.embedding)) AS m
             |  FROM qt q, ct c GROUP BY 1, 2, 3),
             |score AS (
             |  SELECT query_id, doc_id, sum(m) AS s
             |  FROM tok_best GROUP BY 1, 2),
             |ranked AS (
             |  SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |  FROM score)
             |SELECT query_id, (doc_id = query_id - 1000000) AS found_original
             |FROM ranked WHERE r = 1 ORDER BY query_id""".stripMargin)),

    // Index DELETE from KQL (`evaluate ann_maintain('dir','delete', Ids)`)
    // — the GDPR/retention op completing the KQL admin suite (stats/
    // compact/split/recover/rebuild/delete): the ids-to-forget arrive as a
    // let-bound VIEW, only hit lists rewrite, and the deleted originals
    // are PROVABLY never returned by a subsequent ann_search in the same
    // session (deleted ids cannot reach any shortlist) while surviving
    // originals still must be. The delete runs ONCE at the memoized
    // build's tail (admin parse — the mutating plugins are gated behind
    // allowAdmin; serving below is a plain non-admin query), so the row
    // is idempotent across bench re-runs.
    QueryDef("q_kql_ann_delete",
      (s, d) => {
        val emb = T(s, d, "embeddings")
        val corpus = emb.projectRename("corpus_id" -> "vec_id")
        val dir = builtAnnIndex(s, d, corpus, variant = "annidx_kdel",
          buildTail = { root =>
            KqlParser.parse(
              s"""let gone = embeddings | where vec_id < 25 and vec_id % 2 == 1
                 |  | project corpus_id = vec_id;
                 |embeddings | take 1
                 || evaluate ann_maintain('$root', 'delete', gone)""".stripMargin,
              Tables.resolver(s, d), allowAdmin = true).collect()
          })
        KqlParser.parse(
          s"""embeddings
             || where vec_id < 25
             || project query_id = vec_id + 1000000,
             |    embedding = series_add(embedding, repeat(0.02, $EMB_DIM))
             || evaluate ann_search(embeddings, vec_id, query_id, embedding,
             |    '$dir', 1)
             || project query_id, found_original = vec_id == query_id - 1000000
             || sort by query_id asc""".stripMargin,
          Tables.resolver(s, d))
      },
      Some("""SELECT vec_id + 1000000 AS query_id,
             |  (vec_id % 2 = 0) AS found_original
             |FROM embeddings WHERE vec_id < 25 ORDER BY query_id""".stripMargin)),

    // Classifier CALIBRATION (the held-out evaluation every learned gate
    // needs before anyone picks its threshold): the NB quality gate trains
    // on the doc_id%3=0 labeled slice, scores the DISJOINT doc_id%3=1
    // holdout, and the confusion matrix vs the held-out truth (lang='en')
    // is four integer counts — precision/recall are each ONE division +
    // round from those counts, so the whole evaluation replays bit-exact.
    // Holdout rows without features emit no score row (the engine-wide
    // featureless-doc convention) and are excluded on both sides.
    QueryDef("q_classifier_eval",
      (s, d) => {
        import graft.functions.NgramQuality
        val docs = T(s, d, "documents")
        val scored = NgramQuality.classify(
          docs.where(col("doc_id") % 3 === 1), "text", "doc_id",
          docs.where(col("doc_id") % 3 === 0), col("lang") === "en")
        scored
          .join(docs.select(col("doc_id").as("id"),
            (col("lang") === "en").as("truth")), "id")
          .agg(
            sum(when(col("pred") === 1 && col("truth"), 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") === 1 && !col("truth"), 1L).otherwise(0L)).as("fp"),
            sum(when(col("pred") === 0 && col("truth"), 1L).otherwise(0L)).as("fn"),
            sum(when(col("pred") === 0 && !col("truth"), 1L).otherwise(0L)).as("tn"))
          .select(col("tp"), col("fp"), col("fn"), col("tn"),
            round(col("tp") / (col("tp") + col("fp")), 6).as("prec"),
            round(col("tp") / (col("tp") + col("fn")), 6).as("rec"))
      },
      Some(s"""WITH $nbModelCtes,
             |db AS (SELECT doc_id, b, COUNT(*) AS n FROM feats
             |  WHERE doc_id % 3 = 1 GROUP BY 1, 2),
             |scc AS (SELECT doc_id,
             |    CAST(SUM(n * COALESCE(wq, wq0)) AS BIGINT) AS sc
             |  FROM db LEFT JOIN w USING (b), w0 GROUP BY doc_id),
             |ev AS (SELECT d.doc_id, (scc.sc + pri.pq > 0) AS pred,
             |    (d.lang = 'en') AS truth
             |  FROM documents d JOIN scc ON d.doc_id = scc.doc_id, pri),
             |cm AS (SELECT
             |    CAST(COUNT(*) FILTER (WHERE pred AND truth) AS BIGINT) AS tp,
             |    CAST(COUNT(*) FILTER (WHERE pred AND NOT truth) AS BIGINT) AS fp,
             |    CAST(COUNT(*) FILTER (WHERE NOT pred AND truth) AS BIGINT) AS fn,
             |    CAST(COUNT(*) FILTER (WHERE NOT pred AND NOT truth) AS BIGINT) AS tn
             |  FROM ev)
             |SELECT tp, fp, fn, tn,
             |  ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS prec,
             |  ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS rec
             |FROM cm""".stripMargin)),

    // THREE-WAY weighted hybrid retrieval: BM25 (lexical scoring) + ANN
    // cosine (semantic) + distinct-term OVERLAP (set-lexical — integer, a
    // third genuinely different ranking modality) fused by WEIGHTED RRF
    // (w = 1.0, 1.0, 0.5 — the overlap ranker is coarse, so it gets half
    // confidence). Proves the n-ary fusion path and the weighted form:
    // each contribution is ONE IEEE division w/(k0+r), the fused sum is
    // fixed-arity left-assoc on both engines — bit-replayable. The oracle
    // replays all THREE ranking chains and the weighted fusion.
    QueryDef("q_hybrid_retrieval_3way",
      (s, d) => {
        val docs = T(s, d, "documents")
        val emb = T(s, d, "embeddings")
        val win = org.apache.spark.sql.expressions.Window
        val bmTop = Bm25.score(docs, "doc_id", "text", "data stream filter window")
          .select(col("doc_id"), round(col("score"), 6).as("s6"))
          .orderBy(col("s6").desc, col("doc_id")).limit(50)
        val bmRanked = bmTop.withColumn("rank", row_number().over(
            win.orderBy(col("s6").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank"))
        val annRanked = Similarity.bruteForceTopK(
            emb.where_(col("vec_id") === 7).projectRename("query_id" -> "vec_id"),
            emb.projectRename("corpus_id" -> "vec_id"), k = 50)
          .select(col("corpus_id").as("doc_id"), col("rank"))
        // overlap = |{query terms} ∩ {doc terms}| over the SAME tokenizer
        // as BM25's oracle chain ([^a-z0-9]+ split) — integer, replayable
        val ovTop = docs.select(col("doc_id"),
            size(array_intersect(
              array_distinct(split(lower(col("text")), "[^a-z0-9]+")),
              typedlit(Seq("data", "stream", "filter", "window")))).as("ov"))
          .where(col("ov") > 0)
          .orderBy(col("ov").desc, col("doc_id")).limit(50)
        val ovRanked = ovTop.withColumn("rank", row_number().over(
            win.orderBy(col("ov").desc, col("doc_id"))))
          .select(col("doc_id"), col("rank"))
        graft.functions.Retrieval.rrf(Seq(bmRanked, annRanked, ovRanked),
            "doc_id", "rank", topK = 15, weights = Seq(1.0, 1.0, 0.5))
          .select(col("doc_id"),
            coalesce(col("r_1"), lit(0L)).as("r_bm25"),
            coalesce(col("r_2"), lit(0L)).as("r_ann"),
            coalesce(col("r_3"), lit(0L)).as("r_ov"),
            col("rrf"))
          .sortBy(col("rrf").desc, col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, t.term FROM documents,
             |    LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
             |  WHERE t.term <> ''),
             |lens AS (SELECT d.doc_id, COALESCE(l.len, 0) AS len
             |  FROM documents d LEFT JOIN
             |    (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id) l
             |    USING (doc_id)),
             |corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    AVG(CAST(len AS DOUBLE)) AS avgdl FROM lens),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             |  WHERE term IN ('data', 'stream', 'filter', 'window')
             |  GROUP BY doc_id, term),
             |dfv AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |bm AS (SELECT tf.doc_id, ROUND(SUM(
             |    ln(1.0 + (c.n - dfv.df + 0.5) / (dfv.df + 0.5)) *
             |      tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / c.avgdl))), 6) AS s6
             |  FROM tf JOIN dfv USING (term) JOIN lens USING (doc_id), corpus c
             |  GROUP BY tf.doc_id),
             |bmr AS (SELECT doc_id, r FROM (
             |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s6 DESC, doc_id) AS r
             |    FROM bm) WHERE r <= 50),
             |annr AS (SELECT doc_id, r FROM (
             |    SELECT c.vec_id AS doc_id, ROW_NUMBER() OVER (
             |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
             |          c.vec_id) AS r
             |    FROM embeddings q, embeddings c
             |    WHERE q.vec_id = 7 AND c.vec_id <> 7) WHERE r <= 50),
             |ovc AS (SELECT doc_id, COUNT(DISTINCT term) AS ov FROM tf GROUP BY doc_id),
             |ovr AS (SELECT doc_id, r FROM (
             |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY ov DESC, doc_id) AS r
             |    FROM ovc) WHERE r <= 50)
             |SELECT doc_id, COALESCE(b.r, 0) AS r_bm25, COALESCE(a.r, 0) AS r_ann,
             |  COALESCE(o.r, 0) AS r_ov,
             |  COALESCE(1.0 / (60 + b.r), 0.0) + COALESCE(1.0 / (60 + a.r), 0.0)
             |    + COALESCE(0.5 / (60 + o.r), 0.0) AS rrf
             |FROM bmr b FULL JOIN annr a USING (doc_id)
             |  FULL JOIN ovr o USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 15""".stripMargin))
  )
}
