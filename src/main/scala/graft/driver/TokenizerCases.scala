package graft.driver

import org.apache.spark.sql.functions._

import graft.SparkEntry.{UnigramFixtureModel, WordPieceFixtureModel}

/** Driver queries for tokenizers and packing: BPE, Unigram and WordPiece
  * encode/train, token budgets, global indexes and sequence packing.
  */
private[graft] object TokenizerCases {

  val cases: Seq[Case] = Seq(
    // Contiguous global row index — the scale-safe ORDER BY row_number:
    // range exchange + per-partition window + broadcast per-partition
    // offsets, never a single-partition window.
    Case("q45_global_index", (s, dir) =>
      graft.ops.Packing.withGlobalIndex(
        t(s, dir, "documents"), Seq(col("doc_id").asc), "pos")
        .select(col("doc_id"), col("pos")),
      Sql("""SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        |FROM documents""".stripMargin)),
    // Concat-and-cut sequence packing: whitespace token counts laid
    // end-to-end in doc_id order, cut every 128 slots; one fragment row per
    // (document × overlapped sequence).
    Case("q46_packing", (s, dir) =>
      graft.ops.Packing.packSequencesByText(
        t(s, dir, "documents"), "doc_id", "text", seqTokens = 128),
      Sql("""WITH t AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> ''))::BIGINT AS n
        |  FROM documents
        |), nz AS (
        |  SELECT doc_id, n,
        |    (sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT AS cum
        |  FROM t WHERE n > 0
        |), f AS (
        |  SELECT doc_id, n, cum,
        |    unnest(generate_series(cum // 128, (cum + n - 1) // 128)) AS seq_id
        |  FROM nz
        |)
        |SELECT doc_id, seq_id,
        |  (greatest(cum, seq_id * 128) - seq_id * 128)::BIGINT AS seq_offset,
        |  (greatest(cum, seq_id * 128) - cum)::BIGINT AS doc_offset,
        |  (least(cum + n, (seq_id + 1) * 128) - greatest(cum, seq_id * 128))::BIGINT AS n_tokens
        |FROM f""".stripMargin)),
    // Exact byte-level BPE (empty merge table): count == UTF-8 byte length
    // for every document — the pre-tokenizer must partition the string
    // exactly (no dropped/double-counted bytes on unicode, contractions,
    // whitespace runs). DuckDB's strlen() is byte length, so the oracle
    // checks the whole kernel foundation over real corpus text.
    Case("q54_bpe_bytes", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextStats.tokenCountBpeExact(col("text"),
          graft.ops.expr.BpeModel.empty).cast("long").as("n_bytes")),
      // The packing definition computed relationally: token counts in doc_id
      // order, exclusive running sum = each doc's first global token slot,
      // one fragment per overlapped 128-token sequence.
      // DuckDB strlen() is UTF-8 BYTE length (length() is chars) — exactly
      // the empty-merge-table BPE count.
      Sql("SELECT doc_id, strlen(text)::BIGINT AS n_bytes FROM documents")),
    // Exact BPE under a real merge table: planted strings spanning full
    // merge chains, partial chains, contractions, case sensitivity, and
    // multi-byte UTF-8, counted by the codegen'd kernel; the oracle is the
    // same strings with REFERENCE counts hand-derived from the merge table
    // (each derivation pinned in BpeSpec) as literal VALUES.
    Case("q54b_bpe_merges", (s, dir) => {
      import s.implicits._
      val model = graft.ops.expr.BpeModel.fromMergesLines(Seq(
        "h e", "l l", "he ll", "hell o", "Ġ w", "o r", "Ġw or", "l d",
        "Ġwor ld"))
      Seq(
        1L -> "hello world", 2L -> "hello", 3L -> "hell or ld",
        4L -> "Hello", 5L -> "it's", 6L -> "é", 7L -> "a  b",
        8L -> "hellohello world world")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenCountBpeExact(col("text"), model)
            .cast("long").as("n_tokens"))
    },
      // Reference counts hand-derived from the fixture merge table (see
      // BpeSpec for the per-string derivations):
      //   1 "hello world" → [hello][ world] = 2
      //   2 "hello" → 1;  3 "hell or ld" → [hell]+[Ġ,or]+[Ġ,ld] = 5
      //   4 "Hello" → [H,e,ll,o] = 4 (byte-level: H ≠ h)
      //   5 "it's" → [i,t]+[',s] = 4;  6 "é" → 2 UTF-8 bytes
      //   7 "a  b" → [a]+[ ]+[ b] = 4 (\s+(?!\S) leaves last space attached)
      //   8 "hellohello world world" → [hello,hello]+[ world]+[ world] = 4
      Sql("""SELECT tid::BIGINT AS tid, n_tokens::BIGINT AS n_tokens
        |FROM (VALUES (1, 2), (2, 1), (3, 5), (4, 4), (5, 4), (6, 2),
        |             (7, 4), (8, 4)) t(tid, n_tokens)""".stripMargin)),
    // Exact BPE ENCODE over the same merge table and strings as q54b: the
    // oracle pins the full id SEQUENCES (hand-derived; each step in
    // BpeSpec) under the standard vocab numbering — byte symbols 0-255 in
    // byte-alphabet discovery order ('!'=0, 'A'=32, space=220), merge r
    // emits 256+r. size(ids) must equal q54b's counts by construction.
    Case("q54d_bpe_encode", (s, dir) => {
      import s.implicits._
      val model = graft.ops.expr.BpeModel.fromMergesLines(Seq(
        "h e", "l l", "he ll", "hell o", "Ġ w", "o r", "Ġw or", "l d",
        "Ġwor ld"))
      Seq(
        1L -> "hello world", 2L -> "hello", 3L -> "hell or ld",
        4L -> "Hello", 5L -> "it's", 6L -> "é", 7L -> "a  b",
        8L -> "hellohello world world")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenizeBpe(col("text"), model).as("raw"))
        // Scalar projection: the driver's pandas compare cannot hash array
        // cells (SURVEY §7.5b — the q04/q23 rule; r9's red row was exactly
        // this), so emit the id sequence as a CSV string plus its length.
        .select(col("tid"), concat_ws(",", col("raw")).as("ids_csv"),
          size(col("raw")).cast("long").as("n_ids"))
    },
      // id derivations: "hello"→259 (he,ll,hell,hello chain), " world"→264;
      // "hell"=258, " or"=[Ġ=220, or=261], " ld"=[220, ld=263]; "Hello" has
      // no h-e merge (case) → [H=39, e=68, ll=257, o=78]; "it's" pre-token
      // split [i=72,t=83] + ['=6, s=82]; "é" = UTF-8 C3 A9 → printable-order
      // ids [127, 102]; "a  b" → [a=64, Ġ=220, Ġ=220, b=65]
      Sql("""SELECT tid::BIGINT AS tid,
        |  array_to_string(ids, ',') AS ids_csv,
        |  len(ids)::BIGINT AS n_ids
        |FROM (VALUES
        |  (1, [259, 264]),
        |  (2, [259]),
        |  (3, [258, 220, 261, 220, 263]),
        |  (4, [39, 68, 257, 78]),
        |  (5, [72, 83, 6, 82]),
        |  (6, [127, 102]),
        |  (7, [64, 220, 220, 65]),
        |  (8, [259, 259, 264, 264])) t(tid, ids)""".stripMargin)),
    // vocab.json interop: the SAME strings and merge table as q54d, but
    // emission re-keyed through a released-style vocab.json (built with
    // Jackson from the standard vocab offset by +1000, with a special
    // token at id 0 — the shape real released vocabs have). The JSON text
    // round-trips through BpeModel.vocabFromJson, so parse + remap are
    // both under the gate; expected ids are q54d's hand-derived sequences
    // shifted by exactly 1000.
    Case("q54e_bpe_vocab_ids", (s, dir) => {
      import s.implicits._
      val base = graft.ops.expr.BpeModel.fromMergesLines(Seq(
        "h e", "l l", "he ll", "hell o", "Ġ w", "o r", "Ġw or", "l d",
        "Ġwor ld"))
      val vocabMap = new java.util.HashMap[String, Integer]()
      vocabMap.put("<|endoftext|>", 0)
      base.standardVocab.foreach { case (tok, id) => vocabMap.put(tok, 1000 + id) }
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .writeValueAsString(vocabMap)
      val model = base.withVocab(graft.ops.expr.BpeModel.vocabFromJson(json))
      Seq(
        1L -> "hello world", 2L -> "hello", 3L -> "hell or ld",
        4L -> "Hello", 5L -> "it's", 6L -> "é", 7L -> "a  b",
        8L -> "hellohello world world")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenizeBpe(col("text"), model).as("raw"))
        .select(col("tid"), concat_ws(",", col("raw")).as("ids_csv"),
          size(col("raw")).cast("long").as("n_ids"))
    },
      // q54d's id sequences under the +1000-offset fixture vocab
      Sql("""SELECT tid::BIGINT AS tid,
        |  array_to_string(ids, ',') AS ids_csv,
        |  len(ids)::BIGINT AS n_ids
        |FROM (VALUES
        |  (1, [1259, 1264]),
        |  (2, [1259]),
        |  (3, [1258, 1220, 1261, 1220, 1263]),
        |  (4, [1039, 1068, 1257, 1078]),
        |  (5, [1072, 1083, 1006, 1082]),
        |  (6, [1127, 1102]),
        |  (7, [1064, 1220, 1220, 1065]),
        |  (8, [1259, 1259, 1264, 1264])) t(tid, ids)""".stripMargin)),
    // Concat-and-cut packing METERED BY THE EXACT BPE COUNTER (empty table
    // ⇒ bytes): same fragment contract as q46, but the slot unit is what a
    // byte-level tokenizer would see; DuckDB replays with strlen.
    Case("q54c_bpe_pack", (s, dir) =>
      graft.ops.Packing.packSequences(
        t(s, dir, "documents"), "doc_id",
        graft.ops.TextStats.tokenCountBpeExact(col("text"),
          graft.ops.expr.BpeModel.empty),
        seqTokens = 256, orderCols = Seq(col("doc_id").asc)),
      // q46's replay with the slot unit swapped to strlen bytes, cut at 256.
      Sql("""WITH t AS (
        |  SELECT doc_id, strlen(text)::BIGINT AS n FROM documents
        |), nz AS (
        |  SELECT doc_id, n,
        |    (sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n)::BIGINT AS cum
        |  FROM t WHERE n > 0
        |), f AS (
        |  SELECT doc_id, n, cum,
        |    unnest(generate_series(cum // 256, (cum + n - 1) // 256)) AS seq_id
        |  FROM nz
        |)
        |SELECT doc_id, seq_id,
        |  (greatest(cum, seq_id * 256) - seq_id * 256)::BIGINT AS seq_offset,
        |  (greatest(cum, seq_id * 256) - cum)::BIGINT AS doc_offset,
        |  (least(cum + n, (seq_id + 1) * 256) - greatest(cum, seq_id * 256))::BIGINT AS n_tokens
        |FROM f""".stripMargin)),
    // Unigram-LM (SentencePiece-style) tokenization: Viterbi segmentation
    // under a hand-built piece/logprob vocabulary with byte fallback. The
    // oracle pins full hand-derived id SEQUENCES (each derivation written
    // out in UnigramSpec): single-piece wins, compositional splits, byte
    // fallback on multi-byte UTF-8 and contractions, per-pre-token
    // segmentation. Ids: listed pieces 0-8, then the 255 missing bytes in
    // byte order (b<111 → 9+b, b>111 → 8+b; 'o'=111 is piece 2).
    Case("q84_unigram_encode", (s, dir) => {
      import s.implicits._
      Seq(
        1L -> "hello", 2L -> "hello world", 3L -> "hell", 4L -> "helloo",
        5L -> "é", 6L -> "it's", 7L -> "hellohello world", 8L -> "world")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenizeUnigram(col("text"), UnigramFixtureModel)
            .as("raw"))
        .select(col("tid"), concat_ws(",", col("raw")).as("ids_csv"),
          size(col("raw")).cast("long").as("n_ids"))
    },
      // Hand-derived Viterbi segmentations (derivations in UnigramSpec; id
      // numbering documented at the query): the full expected id sequences
      // as literal VALUES — the q54d convention for tokenizer kernels.
      Sql("""SELECT tid::BIGINT AS tid, ids_csv, n_ids::BIGINT AS n_ids
        |FROM (VALUES
        |  (1, '0', 1), (2, '0,5,6', 3), (3, '1', 1), (4, '0,2', 2),
        |  (5, '203,177', 2), (6, '114,124,48,123', 4),
        |  (7, '0,0,5,6', 4), (8, '7,8', 2)) t(tid, ids_csv, n_ids)""".stripMargin)),
    // SentencePiece .vocab text-format interop: the SAME model serialized
    // to `piece<TAB>logprob` lines (merges.txt byte alphabet) and parsed
    // back inside the query — render + parse are both under the gate; the
    // expected ids are identical to q84's.
    Case("q84b_unigram_vocab_roundtrip", (s, dir) => {
      import s.implicits._
      val model = graft.ops.expr.UnigramModel.fromVocabLines(
        UnigramFixtureModel.toVocabLines)
      Seq(
        1L -> "hello", 2L -> "hello world", 3L -> "hell", 4L -> "helloo",
        5L -> "é", 6L -> "it's", 7L -> "hellohello world", 8L -> "world")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenizeUnigram(col("text"), model).as("raw"))
        .select(col("tid"), concat_ws(",", col("raw")).as("ids_csv"),
          size(col("raw")).cast("long").as("n_ids"))
    },
      Sql("""SELECT tid::BIGINT AS tid, ids_csv, n_ids::BIGINT AS n_ids
        |FROM (VALUES
        |  (1, '0', 1), (2, '0,5,6', 3), (3, '1', 1), (4, '0,2', 2),
        |  (5, '203,177', 2), (6, '114,124,48,123', 4),
        |  (7, '0,0,5,6', 4), (8, '7,8', 2)) t(tid, ids_csv, n_ids)""".stripMargin)),
    // Unigram with the pure byte-fallback vocabulary over the real corpus:
    // every UTF-8 byte is one piece, so count == DuckDB's strlen (byte
    // length) — the same whole-kernel foundation check as q54, but through
    // the Viterbi path (pre-tokenizer partition + lattice + backtrack).
    Case("q85_unigram_bytes", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextStats.tokenCountUnigram(col("text"),
          graft.ops.expr.UnigramModel.withByteFallback(Nil))
          .cast("long").as("n_bytes")),
      // byte-fallback-only vocabulary ⇒ one piece per UTF-8 byte: DuckDB's
      // strlen is byte length (the q54 foundation check, Viterbi path)
      Sql("SELECT doc_id, strlen(text)::BIGINT AS n_bytes FROM documents")),
    // WordPiece (BERT-family) tokenization: greedy longest-match-first
    // with ## continuation pieces, punctuation isolation, and the
    // published whole-word-to-[UNK] rule. The oracle pins hand-derived id
    // SEQUENCES (each greedy derivation written out in WordPieceSpec);
    // the model is built through the vocab.txt render→parse round trip,
    // so the interop path is under the gate too.
    Case("q91_wordpiece_encode", (s, dir) => {
      import s.implicits._
      Seq(
        1L -> "hello", 2L -> "hello world", 3L -> "hellol", 4L -> "hello hell",
        5L -> "hellolo", 6L -> "unaffable", 7L -> "helloz", 8L -> "it's",
        9L -> "ab", 10L -> "")
        .toDF("tid", "text")
        .select(col("tid"),
          graft.ops.TextStats.tokenizeWordPiece(col("text"), WordPieceFixtureModel)
            .as("raw"))
        .select(col("tid"), concat_ws(",", col("raw")).as("ids_csv"),
          size(col("raw")).cast("long").as("n_ids"))
    },
      // greedy derivations (WordPieceSpec): hello→[1]; hello world→[1,2];
      // hellol→hello+##l; hello hell→[1,3]; hellolo→hello+##lo (longest
      // continuation); unaffable→un+##affable; helloz→[UNK] (all-or-
      // nothing); it's→it,',s (punctuation isolation); ab→a+##b; ''→[].
      Sql("""SELECT tid::BIGINT AS tid, ids_csv, n_ids::BIGINT AS n_ids
        |FROM (VALUES
        |  (1, '1', 1), (2, '1,2', 2), (3, '1,6', 2), (4, '1,3', 2),
        |  (5, '1,5', 2), (6, '7,10', 2), (7, '0', 1), (8, '13,11,12', 3),
        |  (9, '14,15', 2), (10, '', 0)) t(tid, ids_csv, n_ids)""".stripMargin)),
    // Corpus-scale WordPiece identity: under a letters-only vocabulary
    // (each word = first letter + ## continuations), the token count of
    // this punctuation-free lowercase corpus is exactly its non-space
    // character count — DuckDB replays the arithmetic on every document.
    Case("q91b_wordpiece_corpus", (s, dir) => {
      val letters = ('a' to 'z').map(_.toString)
      val model = graft.ops.expr.WordPieceModel.fromTokens(
        Seq("[UNK]") ++ letters ++ letters.map("##" + _))
      t(s, dir, "documents").select(col("doc_id"),
        graft.ops.TextStats.tokenCountWordPiece(col("text"), model)
          .cast("long").as("n_tokens"))
    },
      Sql("""SELECT doc_id, length(replace(text, ' ', ''))::BIGINT AS n_tokens
        |FROM documents""".stripMargin)),
    // WORDPIECE TRAINER, word-table gate: the trainer's one corpus-scale
    // pass under the ENCODER's word boundaries (whitespace split +
    // punctuation isolation — not the BPE regex). The corpus text is pure
    // alphanumeric, so punctuation is planted by construction; the oracle
    // replays the boundary rule with the ASCII punctuation class.
    Case("q95_wordpiece_wordcounts", (s, dir) => {
      val norm = t(s, dir, "documents").select(
        concat(col("text"), lit(" it's #"), (col("doc_id") % 10).cast("string"),
          lit("!")).as("t"))
      graft.ops.WordPieceTrain.wordCounts(norm, "t")
        .orderBy(col("n").desc, col("word").asc).limit(30)
    },
      // WordPiece word boundaries: single ASCII-punctuation chars isolated,
      // word runs between whitespace/punctuation (corpus is ASCII by
      // construction, so the ASCII class IS the full classifier here).
      Sql("""WITH norm AS (
        |  SELECT text || ' it''s #' || (doc_id % 10) || '!' AS t FROM documents),
        |words AS (SELECT unnest(regexp_extract_all(t,
        |  '[!-/:-@\[-`{-~]|[^\s!-/:-@\[-`{-~]+')) AS word FROM norm)
        |SELECT word, count(*) AS n FROM words
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 30""".stripMargin)),
    // WordPiece training, selection gate (the q67b pattern): ONE round —
    // words split [c0, ##c1, …], winner = max freq(ab)/(freq(a)·freq(b))
    // with ties to the smallest (left, right) — replays fully in SQL
    // (exact integer counts; both engines compare the same IEEE
    // quotients). Multi-merge training is spec-pinned on the published
    // teaching fixture (WordPieceTrainSpec hand derivation).
    Case("q95b_wordpiece_first_merge", (s, dir) => {
      import s.implicits._
      val norm = t(s, dir, "documents").select(
        concat(col("text"), lit(" it's #"), (col("doc_id") % 10).cast("string"),
          lit("!")).as("t"))
      val wc = graft.ops.WordPieceTrain.wordCounts(norm, "t")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      graft.ops.WordPieceTrain.trainMerges(wc, numMerges = 1).toDF("merged")
    },
      // First-merge replay: [c0, ##c1, …] splits, per-occurrence piece
      // freqs, adjacent-pair freqs, score = c/(f_l · f_r), max score with
      // ties to the smallest (l, r), merged token = l || r-without-##.
      Sql("""WITH norm AS (
        |  SELECT text || ' it''s #' || (doc_id % 10) || '!' AS t FROM documents),
        |words AS (SELECT unnest(regexp_extract_all(t,
        |  '[!-/:-@\[-`{-~]|[^\s!-/:-@\[-`{-~]+')) AS w FROM norm),
        |wc AS (SELECT w, count(*) AS n FROM words GROUP BY w),
        |syms AS (
        |  SELECT w, n, i,
        |    CASE WHEN i = 1 THEN substring(w, 1, 1)
        |         ELSE '##' || substring(w, i, 1) END AS sym
        |  FROM (SELECT w, n, unnest(generate_series(1, length(w))) AS i FROM wc)),
        |pf AS (SELECT sym, sum(n) AS f FROM syms GROUP BY sym),
        |pairs AS (
        |  SELECT a.sym AS l, b.sym AS r, sum(a.n) AS c
        |  FROM syms a JOIN syms b ON a.w = b.w AND b.i = a.i + 1
        |  GROUP BY a.sym, b.sym)
        |SELECT l || replace(r, '##', '') AS merged
        |FROM pairs
        |JOIN pf fl ON fl.sym = pairs.l
        |JOIN pf fr ON fr.sym = pairs.r
        |ORDER BY c::DOUBLE / (fl.f::DOUBLE * fr.f::DOUBLE) DESC, l ASC, r ASC
        |LIMIT 1""".stripMargin)),
    // Token-budget selection: the longest prefix of the corpus in
    // (token_count DESC, doc_id) order whose running token total fits a
    // 10k budget — whole docs, no back-fill. Exact BIGINT oracle via a
    // DuckDB running-sum window.
    Case("q51_token_budget", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextStats.tokenCountWs(col("text")).cast("long").as("tc"))
      graft.ops.Packing.takeTokenBudget(d, col("tc"), 10000L,
        Seq(col("tc").desc, col("doc_id").asc))
        .select(col("doc_id"), col("tc"))
    },
      Sql(s"""WITH t AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '$wsClassSql'), x -> x <> ''))::BIGINT AS tc
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, tc,
         |    sum(tc) OVER (ORDER BY tc DESC, doc_id
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runsum
         |  FROM t
         |)
         |SELECT doc_id, tc FROM c WHERE runsum <= 10000""".stripMargin)),
    // BPE tokenizer TRAINING, corpus pass: the distributed pre-token
    // frequency table (the trainer's only corpus-scale stage — partial
    // hash aggregation, one row per distinct word per partition on the
    // exchange). Whitespace is collapsed first so the pre-tokenizer's
    // trailing-run branch (a lookahead RE2 can't express) is provably
    // dead and DuckDB replays the remaining alternation verbatim.
    Case("q67_bpe_wordcounts", (s, dir) => {
      val norm = t(s, dir, "documents").select(
        trim(regexp_replace(col("text"), "\\s+", " ")).as("t"))
      graft.ops.BpeTrain.wordCounts(norm, "t")
        .orderBy(col("n").desc, col("word").asc).limit(30)
    },
      // The pre-tokenizer alternation minus the dead lookahead branch (the
      // Spark side collapses whitespace first, so `\s+(?!\S)` can never
      // fire); RE2 and java.util.regex agree on leftmost-first alternation.
      Sql("""WITH norm AS (SELECT trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |words AS (SELECT unnest(regexp_extract_all(t,
        |  '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS word FROM norm)
        |SELECT word, count(*) AS n FROM words
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 30""".stripMargin)),
    // BPE training, selection gate: with numMerges = 1 every symbol is a
    // raw byte, so the winning merge (max weighted pair count, ties to the
    // smallest byte pair) and its merges.txt rendering (space → U+0120)
    // replay exactly in SQL. Multi-merge training is spec-pinned on a
    // hand-derived fixture (BpeTrainSpec); the full loop is driver-side
    // over the bounded word table, like every production trainer.
    Case("q67b_bpe_first_merge", (s, dir) => {
      import s.implicits._
      val norm = t(s, dir, "documents").select(
        trim(regexp_replace(col("text"), "\\s+", " ")).as("t"))
      val (_, lines) =
        graft.ops.BpeTrain.trainFromCorpus(norm, "t", numMerges = 1)
      lines.toDF("merge")
    },
      // First-merge replay: weighted adjacent byte-pair counts over the
      // word table, max count with ties to the smallest byte pair, rendered
      // in the published alphabet (space → U+0120). ASCII corpus ⇒ chars
      // are bytes, so substring/ascii arithmetic is exact.
      Sql("""WITH norm AS (SELECT trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |words AS (SELECT unnest(regexp_extract_all(t,
        |  '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS w FROM norm),
        |wc AS (SELECT w, count(*) AS n FROM words GROUP BY w),
        |pairs AS (
        |  SELECT substring(w, i, 1) AS l, substring(w, i + 1, 1) AS r, n
        |  FROM (SELECT w, n, unnest(generate_series(1, length(w) - 1)) AS i FROM wc)),
        |pc AS (SELECT l, r, sum(n) AS c FROM pairs GROUP BY l, r)
        |SELECT replace(l, ' ', chr(288)) || ' ' || replace(r, ' ', chr(288)) AS merge
        |FROM pc ORDER BY c DESC, ascii(l) ASC, ascii(r) ASC LIMIT 1""".stripMargin))
  )
}
