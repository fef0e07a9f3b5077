package graft

import org.apache.spark.sql.DataFrame

/** SQL builders for the registry's captured media oracles
  * ([[Queries.Captured]]).
  *
  * The media dedup/decontamination entries factor into (a) a CODEC
  * half — perceptual signatures that need a JDK image/audio decoder
  * DuckDB does not have (the m1 exemption) — and (b) a SCREENING half
  * that is pure 64-bit integer math (xor + popcount joins, exact-dup
  * group collapse, closed-form expansion, anti joins) DuckDB replays
  * exactly. The signature computation stays rows-only; the screening
  * is oracled over the persisted signature relation.
  *
  * Each builder collects the signature relation it is handed into a
  * VALUES list and returns SQL that recomputes the whole screening
  * relation BY BRUTE FORCE — any bug in the pigeonhole banding, permuted
  * tables, rep collapse, member expansion, or anti-join math
  * hash-mismatches against it. Only the signature values ride on trust,
  * and those are spec-pinned deterministic (MultimodalSpec). A captured
  * entry calls one builder over the relation its query reads, for the
  * dir it is asked about; nothing is kept between calls.
  *
  * The capture collect is a VERIFICATION surface, never a production
  * path: it is bounded by a loud require sized to the staged fixture
  * corpora (thousands of 16-byte signature rows). A 100 TB corpus runs
  * the same screening operators; no oracle collects it.
  */
object OracleVals {

  /** Registry fixture corpora are O(10^3) signatures; far below this.
    * The bound exists so the capture can never silently become a
    * corpus-sized driver collect if a fixture grows.
    */
  val MaxRows = 200000

  /** `(a,b),(c,d),…` VALUES literal over integer columns (exact
    * Long/Int rendering — no floats cross this boundary by design).
    */
  def intValues(df: DataFrame, cols: Seq[String]): String = {
    val rows = df.selectExpr(cols: _*).collect()
    require(rows.nonEmpty,
      s"oracle capture over ${cols.mkString(",")}: empty signature " +
        "relation (an empty VALUES list is not SQL — leave rows-only)")
    require(rows.length <= MaxRows,
      s"oracle capture over ${cols.mkString(",")}: ${rows.length} rows " +
        s"exceeds the $MaxRows verification bound — this capture is " +
        "for fixture-sized signature relations, not corpora")
    rows.iterator
      .map(r => cols.indices.map(i => String.valueOf(r.get(i)))
        .mkString("(", ",", ")"))
      .mkString(",")
  }

  /** CTE prefix binding `sigs(media_id, sig)` as BIGINTs (small
    * literals would otherwise parse as INTEGER and drift the xor/
    * popcount width).
    */
  private def sigCte(vals: String): String =
    s"""WITH v(media_id, sig) AS (VALUES $vals),
       |sigs AS (SELECT CAST(media_id AS BIGINT) AS media_id,
       |                CAST(sig AS BIGINT) AS sig FROM v)""".stripMargin

  /** Oracle for the COLLAPSED rep-level near-dup pair relation
    * (m5/m8 shape): identical signatures group under a min-id rep;
    * pairs are rep pairs at hamming ≤ maxDist with member counts.
    */
  def collapsedPairsSql(sigs: DataFrame, sigCol: String,
                        maxDist: Int): String = {
    val vals = intValues(sigs, Seq("media_id", sigCol))
    s"""${sigCte(vals)},
       |g AS (SELECT sig, MIN(media_id) AS rep, COUNT(*) AS n
       |      FROM sigs GROUP BY sig)
       |SELECT a.rep AS media_a, b.rep AS media_b, a.n AS n_a, b.n AS n_b,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM g a JOIN g b ON a.rep < b.rep
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxDist
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Oracle for the MEMBER-level near-dup pair relation (m14 shape):
    * every unordered signature-row pair at hamming ≤ maxDist.
    */
  def memberPairsSql(sigs: DataFrame, sigCol: String,
                     maxDist: Int): String = {
    val vals = intValues(sigs, Seq("media_id", sigCol))
    s"""${sigCte(vals)}
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |FROM sigs a JOIN sigs b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= $maxDist
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Oracle for single-signature decontamination (m16 shape): corpus
    * rows within hamming ≤ maxDist of any test row drop; the test set
    * is the deterministic id-sample `media_id < idBound AND
    * media_id % 97 = 0` of the SAME captured relation — exactly the
    * registry query's construction.
    */
  def decontaminateSql(sigs: DataFrame, sigCol: String, maxDist: Int,
                       idBound: Long, outSigCol: String): String = {
    val vals = intValues(sigs, Seq("media_id", sigCol))
    s"""${sigCte(vals)},
       |test AS (SELECT * FROM sigs
       |         WHERE media_id < $idBound AND media_id % 97 = 0),
       |hits AS (SELECT DISTINCT c.media_id FROM sigs c JOIN test t
       |         ON bit_count(xor(c.sig, t.sig)) <= $maxDist)
       |SELECT s.media_id, s.sig AS $outSigCol FROM sigs s
       |WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                  WHERE h.media_id = s.media_id)
       |ORDER BY media_id""".stripMargin
  }

  /** Oracle for GROUP-level (any-frame-hits) decontamination (m17
    * shape): a clip drops iff ANY of its frame signatures nears any
    * test clip's frame; kept clips report their frame counts.
    */
  def groupDecontaminateSql(frames: DataFrame, sigCol: String,
                            maxDist: Int, idBound: Long): String = {
    val vals = intValues(frames, Seq("media_id", sigCol))
    s"""${sigCte(vals)},
       |test AS (SELECT * FROM sigs
       |         WHERE media_id < $idBound AND media_id % 97 = 0),
       |hits AS (SELECT DISTINCT c.media_id FROM sigs c JOIN test t
       |         ON bit_count(xor(c.sig, t.sig)) <= $maxDist)
       |SELECT s.media_id, COUNT(*) AS n_frames FROM sigs s
       |WHERE NOT EXISTS (SELECT 1 FROM hits h
       |                  WHERE h.media_id = s.media_id)
       |GROUP BY s.media_id
       |ORDER BY media_id""".stripMargin
  }

  /** Oracle for the GREEDY incremental screening relation (m6/m9
    * shape): index = rows below `half`, batch = the rest; the batch
    * collapses to one min-id rep per distinct signature, and a rep
    * survives iff NO index signature and NO smaller-id rep sits
    * within hamming ≤ maxDist — the "any earlier arrival, kept or
    * dropped" policy, which is non-recursive and therefore exactly
    * replayable by brute force. `half` is computed by the CALLER over
    * the FULL staged relation (nulls included — the Spark side's
    * max-div-2 sees them) and inlined.
    */
  def incrementalScreenSql(sigs: DataFrame, sigCol: String,
                           maxDist: Int, half: Long,
                           outSigCol: String): String = {
    val vals = intValues(sigs, Seq("media_id", sigCol))
    s"""${sigCte(vals)},
       |ix AS (SELECT * FROM sigs WHERE media_id < $half),
       |reps AS (SELECT sig, MIN(media_id) AS media_id FROM sigs
       |         WHERE media_id >= $half GROUP BY sig)
       |SELECT r.media_id, r.sig AS $outSigCol FROM reps r
       |WHERE NOT EXISTS (SELECT 1 FROM ix i
       |        WHERE bit_count(xor(i.sig, r.sig)) <= $maxDist)
       |  AND NOT EXISTS (SELECT 1 FROM reps r2
       |        WHERE r2.media_id < r.media_id
       |          AND bit_count(xor(r2.sig, r.sig)) <= $maxDist)
       |ORDER BY media_id""".stripMargin
  }

  /** Oracle for the GROUP-level greedy incremental screening (m12
    * shape): a batch CLIP survives iff none of its frames sits within
    * maxDist of any index frame or any frame of an earlier batch clip
    * (own frames never screen each other); kept clips report their
    * non-null frame counts.
    */
  def groupIncrementalScreenSql(frames: DataFrame, sigCol: String,
                                maxDist: Int, half: Long): String = {
    val vals = intValues(frames, Seq("media_id", sigCol))
    s"""${sigCte(vals)},
       |ix AS (SELECT * FROM sigs WHERE media_id < $half),
       |b AS (SELECT * FROM sigs WHERE media_id >= $half),
       |dropped AS (SELECT DISTINCT f.media_id FROM b f
       |  WHERE EXISTS (SELECT 1 FROM ix i
       |          WHERE bit_count(xor(i.sig, f.sig)) <= $maxDist)
       |     OR EXISTS (SELECT 1 FROM b f2
       |          WHERE f2.media_id < f.media_id
       |            AND bit_count(xor(f2.sig, f.sig)) <= $maxDist))
       |SELECT media_id, COUNT(*) AS n_frames FROM b
       |WHERE NOT EXISTS (SELECT 1 FROM dropped d
       |                  WHERE d.media_id = b.media_id)
       |GROUP BY media_id
       |ORDER BY media_id""".stripMargin
  }

  /** Oracle for the CLIP-level collapsed near-dup relation (m11
    * shape): clips with identical (frame_idx, fhash) multisets group
    * under a min-id rep (the canonical-string twin of clipKeyAgg's
    * md5-of-sorted-structs — same partition, different key spelling);
    * rep FRAMES pair at hamming ≤ maxDist across distinct clips
    * (each unordered frame pair once, via the packed frame key's
    * total order); pairs aggregate per clip pair.
    */
  def clipPairsSql(frames: DataFrame, maxDist: Int): String = {
    val vals = intValues(frames, Seq("media_id", "frame_idx", "fhash"))
    s"""WITH v(media_id, frame_idx, fhash) AS (VALUES $vals),
       |sigs AS (SELECT CAST(media_id AS BIGINT) AS media_id,
       |                CAST(frame_idx AS BIGINT) AS frame_idx,
       |                CAST(fhash AS BIGINT) AS fhash FROM v),
       |ckt AS (SELECT media_id,
       |          string_agg(CAST(frame_idx AS VARCHAR) || ':' ||
       |                     CAST(fhash AS VARCHAR), '|'
       |                     ORDER BY frame_idx, fhash) AS ck
       |        FROM sigs GROUP BY media_id),
       |g AS (SELECT ck, MIN(media_id) AS rep, COUNT(*) AS n
       |      FROM ckt GROUP BY ck),
       |rf AS (SELECT s.media_id, s.frame_idx, s.fhash FROM sigs s
       |       JOIN g ON s.media_id = g.rep),
       |fp AS (SELECT LEAST(a.media_id, b.media_id) AS media_a,
       |              GREATEST(a.media_id, b.media_id) AS media_b,
       |              bit_count(xor(a.fhash, b.fhash)) AS h
       |       FROM rf a JOIN rf b
       |       ON a.media_id * 64 + a.frame_idx <
       |          b.media_id * 64 + b.frame_idx
       |          AND a.media_id <> b.media_id
       |       WHERE bit_count(xor(a.fhash, b.fhash)) <= $maxDist),
       |agg AS (SELECT media_a, media_b, COUNT(*) AS n_frame_pairs,
       |               CAST(MIN(h) AS INT) AS min_hamming
       |        FROM fp GROUP BY media_a, media_b)
       |SELECT agg.media_a, agg.media_b, ga.n AS n_a, gb.n AS n_b,
       |       agg.n_frame_pairs, agg.min_hamming
       |FROM agg JOIN g ga ON agg.media_a = ga.rep
       |         JOIN g gb ON agg.media_b = gb.rep
       |ORDER BY media_a, media_b""".stripMargin
  }
}
