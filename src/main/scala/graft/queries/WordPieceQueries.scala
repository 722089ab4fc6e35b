package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ml.WordPiece

/** WordPiece tokenizer gates (round 14 continuation): the third
  * tokenizer family next to BPE (q_bpe_*) and unigram-LM
  * (q_unigram_*). Training replays in DuckDB as unrolled merge rounds
  * whose argmax is the EXACT likelihood-ratio comparison
  * (HUGEINT cross-products, no division), and greedy MaxMatch encoding
  * replays as a longest-match step table walked by a recursive CTE —
  * including the published no-backtracking [UNK] dead-end semantics.
  * The encode corpus plants a per-doc `w<digit>` token whose digit is
  * outside the training alphabet, so the [UNK] path provably fires.
  */
object WordPieceQueries {

  private val WpMerges = 8

  /** Spaced WordPiece rendering of the distinct (word, freq) table:
    * `"abc" → " a  ##b  ##c "`.
    */
  private val wpBaseCte =
    """wp0 AS MATERIALIZED (
         SELECT array_to_string(list_transform(
             range(1, len(word) + 1),
             i -> CASE WHEN i = 1 THEN ' '||word[i]||' '
                       ELSE ' ##'||word[i]||' ' END), '') AS s,
           freq
         FROM (SELECT word, count(*) AS freq FROM
                (SELECT unnest(list_filter(
                   string_split(lower(text), ' '), t -> t <> ''))
                   AS word
                 FROM documents)
               GROUP BY 1))"""

  /** One WordPiece merge round: symbol counts + adjacent-pair counts
    * from the current rendering, the exact-rational argmax
    * `c/(lc·rc)` via HUGEINT cross-multiplication (ties (l, r) asc —
    * the NOT EXISTS anti-join is the only way to ORDER BY a rational
    * exactly), and the replace-all merge application.
    */
  private def wpStepCtes(n: Int): String =
    (1 to n).map { i =>
      val prev = s"wp${i - 1}"
      s"""wys$i AS (SELECT sym, CAST(sum(freq) AS HUGEINT) AS c
              FROM (SELECT freq, unnest(list_filter(
                      string_split(s, ' '), x -> x <> '')) AS sym
                    FROM $prev)
              GROUP BY 1),
         wyp$i AS (SELECT pr.l AS l, pr.r AS r,
                CAST(sum(freq) AS HUGEINT) AS c
              FROM (SELECT freq,
                      unnest(list_transform(range(1, len(sym)),
                        j -> {'l': sym[j], 'r': sym[j+1]})) AS pr
                    FROM (SELECT freq,
                            list_filter(string_split(s, ' '),
                              x -> x <> '') AS sym
                          FROM $prev)
                    WHERE len(sym) >= 2)
              GROUP BY 1, 2),
         wyc$i AS MATERIALIZED (
              SELECT p.l, p.r, p.c, sl.c AS lc, sr.c AS rc
              FROM wyp$i p
              JOIN wys$i sl ON sl.sym = p.l
              JOIN wys$i sr ON sr.sym = p.r),
         wyb$i AS MATERIALIZED (
              SELECT l, r, l || substr(r, 3) AS piece
              FROM wyc$i a
              WHERE NOT EXISTS (SELECT 1 FROM wyc$i b
                WHERE b.c * a.lc * a.rc > a.c * b.lc * b.rc
                   OR (b.c * a.lc * a.rc = a.c * b.lc * b.rc
                       AND (b.l < a.l OR (b.l = a.l AND b.r < a.r))))),
         wp$i AS (SELECT replace($prev.s,
                    ' '||wyb$i.l||'  '||wyb$i.r||' ',
                    ' '||wyb$i.piece||' ') AS s, freq
                 FROM $prev CROSS JOIN wyb$i)"""
    }.mkString(",\n         ")

  private val wordpieceTrainOracle =
    s"""WITH $wpBaseCte,
         ${wpStepCtes(WpMerges)}
        ${(1 to WpMerges).map(i =>
           s"SELECT CAST($i AS INT) AS rank, l AS lhs, r AS rhs, " +
             s"piece FROM wyb$i")
          .mkString("\n        UNION ALL ")}"""

  /** The trained vocabulary (alphabet ∪ minted pieces) and the greedy
    * MaxMatch machinery over the UNK-bait encode corpus: the longest
    * matching piece per (word, position) computed OUTSIDE the
    * recursion (plain join + window), then the deterministic greedy
    * chain walked by the recursive CTE — a dead-end word never reaches
    * `pos = len(word)` and rolls up as one [UNK] piece.
    */
  private val wpEncodeCtes = {
    val mint = (1 to WpMerges)
      .map(i => s"SELECT piece FROM wyb$i").mkString(" UNION ALL ")
    s"""wdoc AS (SELECT doc_id,
              text || ' w' || (doc_id % 10)::VARCHAR AS text
            FROM documents),
       wvoc AS MATERIALIZED (
           SELECT DISTINCT sym AS piece FROM (
             SELECT unnest(list_filter(string_split(s, ' '),
               x -> x <> '')) AS sym
             FROM wp0)
           UNION
           SELECT piece FROM ($mint)),
       wtk AS MATERIALIZED (
           SELECT doc_id, unnest(list_filter(
             string_split(lower(text), ' '), t -> t <> '')) AS word
           FROM wdoc),
       ww AS MATERIALIZED (SELECT DISTINCT word FROM wtk),
       wpos AS (SELECT word, unnest(range(0, len(word))) AS pos
                FROM ww),
       wmat AS (SELECT wpos.word, wpos.pos, v.piece,
                  CASE WHEN v.piece LIKE '##%' THEN len(v.piece) - 2
                       ELSE len(v.piece) END AS clen
                FROM wpos JOIN wvoc v ON
                  CASE WHEN wpos.pos = 0
                       THEN v.piece NOT LIKE '##%'
                        AND substr(wpos.word, 1, len(v.piece))
                              = v.piece
                       ELSE v.piece LIKE '##%'
                        AND len(v.piece) > 2
                        AND substr(wpos.word, wpos.pos + 1,
                              len(v.piece) - 2) = substr(v.piece, 3)
                  END),
       wstep AS MATERIALIZED (
           SELECT word, pos, piece, clen FROM (
             SELECT word, pos, piece, clen,
               row_number() OVER (PARTITION BY word, pos
                 ORDER BY clen DESC) AS rn
             FROM wmat)
           WHERE rn = 1),
       wwalk(word, pos, k, path) AS (
           SELECT word, 0, 0, '' FROM ww
           UNION ALL
           SELECT g.word, g.pos + s.clen, g.k + 1,
             CASE WHEN g.path = '' THEN s.piece
                  ELSE g.path || ' ' || s.piece END
           FROM wwalk g JOIN wstep s
             ON s.word = g.word AND s.pos = g.pos
           WHERE g.pos < len(g.word)),
       wterm AS MATERIALIZED (
           SELECT word, k, path FROM wwalk WHERE pos = len(word)),
       wres AS MATERIALIZED (
           SELECT w.word,
             CASE WHEN t.word IS NULL THEN CAST(1 AS BIGINT)
                  ELSE CAST(t.k AS BIGINT) END AS np,
             CASE WHEN t.word IS NULL THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS unk,
             ('0x'||substr(md5(w.word || ':' ||
                CASE WHEN t.word IS NULL THEN '[UNK]'
                     ELSE t.path END), 1, 8))::BIGINT AS ph
           FROM ww w LEFT JOIN wterm t USING (word))"""
  }

  private val wordpieceEncodeOracle =
    s"""WITH RECURSIVE $wpBaseCte,
         ${wpStepCtes(WpMerges)},
         $wpEncodeCtes,
         wagg AS (SELECT t.doc_id, count(*) AS n_tokens,
                    CAST(sum(r.np) AS BIGINT) AS n_pieces,
                    CAST(sum(r.unk) AS BIGINT) AS n_unk,
                    CAST(sum(r.ph) AS BIGINT) AS path_hash
                  FROM wtk t JOIN wres r USING (word) GROUP BY 1)
        SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
          coalesce(a.n_pieces, 0) AS n_pieces,
          coalesce(a.n_unk, 0) AS n_unk,
          coalesce(a.path_hash, 0) AS path_hash
        FROM documents d LEFT JOIN wagg a USING (doc_id)"""

  private val wordpieceEncodeIdsOracle =
    s"""WITH RECURSIVE $wpBaseCte,
         ${wpStepCtes(WpMerges)},
         $wpEncodeCtes,
         wvid AS (SELECT piece,
                    CAST(row_number() OVER (ORDER BY piece) - 1
                      AS BIGINT) AS pid
                  FROM wvoc),
         wseq AS (SELECT word,
                    unnest(range(1, len(string_split(path, ' ')) + 1))
                      AS ord,
                    unnest(string_split(path, ' ')) AS piece
                  FROM wterm),
         wids0 AS (SELECT s.word, list(v.pid ORDER BY s.ord)
                     AS piece_ids
                   FROM wseq s JOIN wvid v USING (piece) GROUP BY 1),
         wids AS (SELECT w.word,
                    coalesce(i.piece_ids,
                      list_value(CAST(-1 AS BIGINT))) AS piece_ids
                  FROM ww w LEFT JOIN wids0 i USING (word)),
         wflat AS (SELECT word,
                     unnest(range(1, len(piece_ids) + 1)) - 1
                       AS piece_pos,
                     unnest(piece_ids) AS piece_id
                   FROM wids),
         wti AS (SELECT doc_id,
                   unnest(range(1, len(tl) + 1)) - 1 AS tok_pos,
                   unnest(tl) AS word
                 FROM (SELECT doc_id, list_filter(
                         string_split(lower(text), ' '), t -> t <> '')
                         AS tl
                       FROM wdoc))
        SELECT t.doc_id, CAST(t.tok_pos AS BIGINT) AS tok_pos,
          CAST(f.piece_pos AS BIGINT) AS piece_pos,
          CAST(f.piece_id AS BIGINT) AS piece_id
        FROM wti t JOIN wflat f USING (word)"""

  /** Byte-fallback id sequences: the same MaxMatch walk, but a
    * dead-end word emits the UTF-8 bytes of the WHOLE word (ids
    * 0..255) instead of one [UNK], and vocabulary ranks shift by 256 —
    * for the ASCII bait corpus each byte is `unicode()` of the char.
    */
  private val wordpieceBytesOracle =
    s"""WITH RECURSIVE $wpBaseCte,
         ${wpStepCtes(WpMerges)},
         $wpEncodeCtes,
         wvid AS (SELECT piece,
                    CAST(row_number() OVER (ORDER BY piece) + 255
                      AS BIGINT) AS pid
                  FROM wvoc),
         wseq AS (SELECT word,
                    unnest(range(1, len(string_split(path, ' ')) + 1))
                      AS ord,
                    unnest(string_split(path, ' ')) AS piece
                  FROM wterm),
         wk AS (SELECT s.word, s.ord, v.pid
                FROM wseq s JOIN wvid v USING (piece)),
         wbf AS (SELECT word, i AS ord,
                   CAST(CASE WHEN unicode(substr(word, CAST(i AS INT),
                            1)) < 128
                     THEN unicode(substr(word, CAST(i AS INT), 1))
                     ELSE error('wordpieceBytesOracle: non-ASCII ' ||
                       'fallback char — unicode() equals the UTF-8 ' ||
                       'byte only below 128; replay real byte ' ||
                       'expansion before widening the corpus')
                     END AS BIGINT) AS pid
                 FROM (SELECT word,
                         unnest(range(1, len(word) + 1)) AS i
                       FROM ww
                       WHERE word NOT IN (SELECT word FROM wterm))),
         wall AS (SELECT * FROM wk UNION ALL SELECT * FROM wbf),
         wti AS (SELECT doc_id,
                   unnest(range(1, len(tl) + 1)) - 1 AS tok_pos,
                   unnest(tl) AS word
                 FROM (SELECT doc_id, list_filter(
                         string_split(lower(text), ' '), t -> t <> '')
                         AS tl
                       FROM wdoc))
        SELECT t.doc_id, CAST(t.tok_pos AS BIGINT) AS tok_pos,
          CAST(a.ord - 1 AS BIGINT) AS piece_pos,
          CAST(a.pid AS BIGINT) AS piece_id
        FROM wti t JOIN wall a USING (word)"""

  /** The UNK-bait encode corpus: the documents text plus a per-doc
    * `w<digit>` token — `w` is in the training alphabet, digits are
    * not, so greedy MaxMatch matches the initial `w` and then
    * dead-ends, exercising the [UNK] path on every document.
    */
  private def unkBaitCorpus(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      concat(col("text"), lit(" w"), (col("doc_id") % 10).cast("string")))

  /** The trained WordPiece vocabulary, collected once per sf by
    * `Q.once` and shared by the encode-side gates: all three train the
    * identical WpMerges-round vocabulary, so per-gate retraining only
    * re-buys the same deterministic result. q_wordpiece_train still
    * runs the full loop — it IS the check.
    */
  private def vocabFor(sf: String,
      docs: org.apache.spark.sql.DataFrame): Seq[String] =
    Q.once("wordpieceVocab", sf) {
      val merges = WordPiece.wordpieceTrain(docs, "text", WpMerges)
      WordPiece.wordpieceVocabulary(docs, "text", merges)
    }

  val all: Seq[Q] = Seq(
    // persisted tokenizer artifact for the WordPiece family (the
    // q_unigram_persisted contract): train once, save, encode every
    // batch from the artifact — identical results through persistence,
    // so it shares the live encode's oracle
    Q.fn("q_wordpiece_persisted", wordpieceEncodeOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      val dir = Q.stateDir("graft-wp-vocab", sf) { d =>
        val merges = WordPiece.wordpieceTrain(docs, "text", WpMerges)
        WordPiece.saveVocab(spark,
          WordPiece.wordpieceVocabulary(docs, "text", merges), d)
      }
      WordPiece.encodeWithVocabDir(spark, dir, unkBaitCorpus(docs),
        "text", "doc_id")
    },

    // WordPiece training (Schuster & Nakajima 2012 / the BERT
    // tokenizer): merge the pair maximizing count(lr)/(count(l)·
    // count(r)) under exact integer cross-multiplied comparison —
    // the third tokenizer family, replayed round by round
    Q.fn("q_wordpiece_train", wordpieceTrainOracle) { (spark, sf) =>
      WordPiece.wordpieceTrain(
        Tables.load(spark, sf, "documents"), "text", WpMerges)
    },

    // ... greedy longest-match-first (MaxMatch) encoding with the
    // published no-backtracking [UNK] semantics, fired by a planted
    // out-of-alphabet token in every document
    Q.fn("q_wordpiece_encode", wordpieceEncodeOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      WordPiece.wordpieceEncode(unkBaitCorpus(docs), "text", "doc_id",
        vocabFor(sf, docs))
    },

    // ... and the production id-sequence output: per token occurrence,
    // the piece-id array (lexicographic vocabulary ranks; [UNK] → −1).
    // The GATE posexplodes to scalar rows (driver checker can't sort
    // array columns); the operator keeps the array contract.
    Q.fn("q_wordpiece_encode_ids", wordpieceEncodeIdsOracle) {
      (spark, sf) =>
        val docs = Tables.load(spark, sf, "documents")
        Q.explodePieceIds(
          WordPiece.wordpieceEncodeIds(unkBaitCorpus(docs), "text",
            "doc_id", vocabFor(sf, docs)))
    },

    // ... and BYTE FALLBACK: the dead-end bait words emit their UTF-8
    // bytes (ids 0..255; vocabulary ranks +256) instead of [UNK] — no
    // token is ever unknown
    Q.fn("q_wordpiece_bytes", wordpieceBytesOracle) { (spark, sf) =>
      val docs = Tables.load(spark, sf, "documents")
      Q.explodePieceIds(
        WordPiece.wordpieceEncodeIds(unkBaitCorpus(docs), "text",
          "doc_id", vocabFor(sf, docs), byteFallback = true))
    }
  )
}
