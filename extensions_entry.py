"""LLM-data-pipeline extension queries + DuckDB oracle twins.

Imported by __spark_entry__ (queries merge into the driver contract).
Every oracle re-implements the exact same algorithm in DuckDB SQL using the
same md5-based hashing and the same literal constants, so results match
bit-for-bit (integers/hashes) or to 6 rounded decimals (float ratios).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from dask_mwu_spark.functions.hashing import PRIME_P, MINHASH_COEFFS
from dask_mwu_spark.cache import tracked_persist as _tracked_persist
from dask_mwu_spark.sources.loaders import load_table
from dask_mwu_spark.operators import affinity as af
from dask_mwu_spark.operators import audit as au
from dask_mwu_spark.operators import bloom as bl
from dask_mwu_spark.operators import curation as cur
from dask_mwu_spark.operators import dedup as dd
from dask_mwu_spark.operators import events as ev
from dask_mwu_spark.operators import graph as gr
from dask_mwu_spark.operators import multimodal as mm
from dask_mwu_spark.operators import rfm
from dask_mwu_spark.operators import retrieval as rtv
from dask_mwu_spark.operators import similarity as sim
from dask_mwu_spark.operators import skew as sk
from dask_mwu_spark.operators import text as tx

# ---------------------------------------------------------------------------
# SQL building blocks
# ---------------------------------------------------------------------------

_MD5H = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

_TOK_CTE = """
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
"""

_SHINGLE_CTE = (
    _TOK_CTE
    + """,
sh_raw AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS shingle,
         lead(word, 2) OVER w AS _last
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE _last IS NOT NULL
)
"""
)

_COEFF_VALUES = ",".join(f"({i},{a},{b})" for i, (a, b) in enumerate(MINHASH_COEFFS))

_SIG_CTE = (
    _SHINGLE_CTE
    + f""",
coeff(i, a, b) AS (VALUES {_COEFF_VALUES}),
sig AS (
  SELECT doc_id, i,
         MIN(({_MD5H.format(x='shingle')} % {PRIME_P} * a + b) % {PRIME_P}) AS minh
  FROM sh, coeff
  GROUP BY doc_id, i
)
"""
)

_BANDS_CTE = (
    _SIG_CTE
    + """,
bands AS (
  -- i // 4: INTEGER division. CAST(i / 4 AS INT) would float-divide then
  -- ROUND (DuckDB cast semantics), splitting bands {0,1,2},{3,4,5},... —
  -- a valid but DIFFERENT banding than the engine's truncating (int) cast,
  -- which only coincidentally agreed at small scale
  SELECT doc_id, CAST(i // 4 AS INT) AS band,
         CAST(SUM(minh * (CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 WHEN 2 THEN 961 ELSE 29791 END)) AS BIGINT) AS band_key
  FROM sig GROUP BY doc_id, i // 4
)
"""
)


# duplicated-span pipeline (dedup.duplicated_spans, n=5): 0-based token
# positions, md5-hashed 5-grams, corpus-wide occurrence >= 2, variable-gap
# islands (new island when the start gap exceeds n-1 = 4)
_SPAN_CTE = f"""
WITH tok5 AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
),
graw AS (
  SELECT doc_id, pos,
         word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w
              || ' ' || lead(word, 3) OVER w || ' ' || lead(word, 4) OVER w AS gram,
         lead(word, 4) OVER w AS _last
  FROM tok5 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g5 AS (
  SELECT doc_id, pos, {_MD5H.format(x='gram')} AS h
  FROM graw WHERE _last IS NOT NULL
),
occ5 AS (SELECT h, COUNT(*) AS _occ FROM g5 GROUP BY h),
dup5 AS (SELECT g5.doc_id, g5.pos FROM g5 JOIN occ5 USING (h) WHERE _occ >= 2),
lg5 AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM dup5
),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - prev > 4 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM lg5
)
"""


def _planes_sql() -> str:
    """Hyperplane weights as string-cast double literals (correctly-rounded
    parse -> bit-identical to the Spark plan's float literals)."""
    rows = []
    for p, plane in enumerate(sim.PLANES):
        vec = ", ".join(f"'{w!r}'::DOUBLE" for w in plane)
        rows.append(f"({p}, [{vec}])")
    return f"planes(p, w) AS (VALUES {','.join(rows)})"


def _rp_planes_sql(k: int = 16) -> str:
    rows = []
    for j, row in enumerate(sim.rp_matrix(k)):
        vec = ", ".join(f"'{w!r}'::DOUBLE" for w in row)
        rows.append(f"({j}, [{vec}])")
    return f"rp(j, w) AS (VALUES {','.join(rows)})"


def _pagerank_rounds_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-round PageRank iteration blocks — one CTE block per
    round, float literals emitted with repr() so the DuckDB doubles are
    bit-identical to the engine's plan literals (1 - 0.85 != 0.15 exactly
    in binary).  Generic over the graph: the caller's prelude must define
    ``directed`` (e_src, e_dst), ``out_deg``, ``nodes``, ``nn``, and
    ``r0`` CTEs; the final rank table is ``r{n_iter}``."""
    blocks = []
    prev = "r0"
    for i in range(1, n_iter + 1):
        # AS MATERIALIZED on every r{i}: DuckDB inlines plain CTEs per
        # reference, and r(i-1) is referenced by BOTH c(i) and d(i) —
        # without materialization the oracle re-evaluates the whole LSH
        # pipeline 2^n_iter times (same blowup the engine avoids by
        # persisting each iteration's rank table)
        blocks.append(f""",
c{i} AS (
  SELECT e.e_dst AS node,
         list_aggregate(list(r.rank / od.out_deg ORDER BY e.e_src), 'sum') AS s
  FROM directed e
  JOIN {prev} r ON r.node = e.e_src
  JOIN out_deg od ON od.e_src = e.e_src
  GROUP BY e.e_dst
),
d{i} AS (
  SELECT COALESCE(list_aggregate(list(r.rank ORDER BY r.node), 'sum'), 0.0)
           AS dangling
  FROM {prev} r LEFT JOIN out_deg od ON od.e_src = r.node
  WHERE od.e_src IS NULL
),
r{i} AS MATERIALIZED (
  SELECT n.node,
         {(1.0 - damping)!r} / nn.n_nodes
           + {damping!r} * (COALESCE(c{i}.s, 0.0)
                            + d{i}.dangling / nn.n_nodes) AS rank
  FROM nodes n
  LEFT JOIN c{i} ON c{i}.node = n.node
  CROSS JOIN nn CROSS JOIN d{i}
)""")
        prev = f"r{i}"
    return "".join(blocks)


def _power_iter_sql(
    n_iter: int = 3, n_buckets: int = 64, final: str | None = None
) -> str:
    """Unrolled fixed-round power iteration for the dominant PC — mirrors
    ``similarity.dominant_pc`` exactly: two-level md5-bucket ordered folds
    for every per-dim float sum, w rounded to 6 per round, norm folded
    over the rounded w in dim order, v = ROUND(w/nrm, 6).  AS MATERIALIZED
    per round (plain CTEs inline per reference — the same 2^n blowup the
    engine avoids with localCheckpoint)."""
    md5v = _MD5H.format(x="CAST(vec_id AS VARCHAR)")
    blocks = []
    prev = "v0"
    for i in range(1, n_iter + 1):
        blocks.append(f""",
s{i} AS MATERIALIZED (
  SELECT vec_id,
         list_aggregate(list(cx * v ORDER BY dim), 'sum') AS s
  FROM cxe JOIN {prev} USING (dim) GROUP BY vec_id
),
pw{i} AS (
  SELECT dim, bucket,
         list_aggregate(list(cx * s ORDER BY vec_id), 'sum') AS ps
  FROM cxe JOIN s{i} USING (vec_id) GROUP BY dim, bucket
),
w{i} AS MATERIALIZED (
  SELECT dim, ROUND(list_aggregate(list(ps ORDER BY bucket), 'sum'), 6) AS w
  FROM pw{i} GROUP BY dim
),
nrm{i} AS (
  SELECT sqrt(list_aggregate(list(w * w ORDER BY dim), 'sum')) AS nrm FROM w{i}
),
v{i} AS MATERIALIZED (
  SELECT dim, ROUND(w / nrm, 6) AS v FROM w{i} CROSS JOIN nrm{i}
)""")
        prev = f"v{i}"
    return (
        f"""
WITH ve AS (
  SELECT vec_id, generate_subscripts(vec, 1) - 1 AS dim, unnest(vec) AS x
  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings)
),
bk AS (SELECT *, {md5v} % {n_buckets} AS bucket FROM ve),
mp AS (
  SELECT dim, bucket, list_aggregate(list(x ORDER BY vec_id), 'sum') AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM bk GROUP BY 1, 2
),
md AS (
  SELECT dim, ROUND(list_aggregate(list(s ORDER BY bucket), 'sum')
                    / CAST(SUM(n) AS DOUBLE), 6) AS m
  FROM mp GROUP BY 1
),
cxe AS MATERIALIZED (
  SELECT vec_id, bk.dim, x - m AS cx, bucket FROM bk JOIN md USING (dim)
),
v0 AS (SELECT DISTINCT dim, 0.125 AS v FROM ve)"""
        + "".join(blocks)
        + (
            final
            if final is not None
            else f"""
SELECT dim, v AS loading,
       (SELECT ROUND(nrm, 6) FROM nrm{n_iter}) AS eigval
FROM v{n_iter}
"""
        )
    )


def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """The dup-graph instantiation: LSH candidate pairs -> canonical
    undirected edges -> the generic unrolled rounds."""
    return (
        f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
canon AS (
  SELECT DISTINCT doc_a AS u, doc_b AS v FROM est WHERE est_jaccard >= 0.25
),
directed AS MATERIALIZED (
  SELECT u AS e_src, v AS e_dst FROM canon
  UNION ALL
  SELECT v AS e_src, u AS e_dst FROM canon
),
out_deg AS MATERIALIZED (SELECT e_src, CAST(COUNT(*) AS BIGINT) AS out_deg
            FROM directed GROUP BY 1),
nodes AS MATERIALIZED (SELECT DISTINCT e_src AS node FROM directed),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n_nodes AS rank FROM nodes CROSS JOIN nn)"""
        + _pagerank_rounds_sql(n_iter, damping)
        + f"""
SELECT node, ROUND(rank, 6) AS rank FROM r{n_iter}
"""
    )


def _kcore_sql(k: int = 2, n_rounds: int = 4) -> str:
    """Unrolled k-core peeling over the LSH dup graph — same canonical
    edge CTEs as ``_pagerank_sql``, then n_rounds of (degree, keep,
    restrict) as literal SQL rounds."""
    parts = [
        f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
e0 AS MATERIALIZED (
  SELECT DISTINCT doc_a AS u, doc_b AS v FROM est WHERE est_jaccard >= 0.25
)"""
    ]
    for r in range(n_rounds):
        parts.append(
            f""",
d{r} AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM e{r} UNION ALL SELECT v AS node FROM e{r})
  GROUP BY node
),
k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
e{r + 1} AS MATERIALIZED (
  SELECT u, v FROM e{r}
  WHERE u IN (SELECT node FROM k{r}) AND v IN (SELECT node FROM k{r})
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
FROM (SELECT u AS node FROM e{n_rounds} UNION ALL SELECT v AS node FROM e{n_rounds})
GROUP BY node
"""
    )
    return "".join(parts)


def _multi_planes_sql(n_tables: int = 4) -> str:
    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(sim.table_planes(t)):
            vec = ", ".join(f"'{w!r}'::DOUBLE" for w in plane)
            rows.append(f"({t}, {p}, [{vec}])")
    return f"planes_t(t, p, w) AS (VALUES {','.join(rows)})"


_VEC_CTE = """
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
nv AS (
  SELECT vec_id, vec,
         sqrt(list_aggregate(list_transform(vec, x -> x * x), 'sum')) AS nrm
  FROM v
)
"""

_BUCKET_CTE = (
    _VEC_CTE
    + f""",
{_planes_sql()},
proj AS (
  SELECT vec_id, vec, nrm, p, list_dot_product(vec, w) AS pr
  FROM nv, planes
),
buckets AS (
  SELECT vec_id, any_value(vec) AS vec, any_value(nrm) AS nrm,
         CAST(SUM(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
)
"""
)

# minhash-LSH pairs -> connected components chain, shared by the
# dedup_components and dedup_purge oracles (DuckDB recursive CTE; the walk
# only expands upward from each node's smallest reachable label)
_CC_CTE = (
    _BANDS_CTE
    + """,
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
pairs AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.25),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
cc AS (
  WITH RECURSIVE walk(node, comp) AS (
      SELECT node, node FROM nodes
    UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.node WHERE w.comp < e.b
  )
  SELECT node, MIN(comp) AS comp FROM walk GROUP BY node
)
"""
)

def _maxmatch_sql(max_pieces: int = 200, max_piece_len: int = 4) -> str:
    """MaxMatch segmentation oracle — the twin of
    ``text.maxmatch_segment_words``: the same substring-frequency piece
    inventory (every occurrence, overlaps included, freq-weighted; top
    ``max_pieces`` of length 2..``max_piece_len`` by (count desc, piece
    asc) UNION the single-character floor), then a WITH RECURSIVE
    left-to-right walk whose step takes the LONGEST matching piece via a
    length-descending CASE (the recursive formulation of the engine's
    skip-ahead ``aggregate`` fold; depth bounded by max word length).
    Integer/string arithmetic only — exact cross-engine."""
    cases = "\n".join(
        f"             WHEN np + {l - 1} <= length(word)"
        f" AND substr(word, np, {l}) IN (SELECT piece FROM pieces)"
        f" THEN substr(word, np, {l})"
        for l in range(max_piece_len, 1, -1)
    )
    return f"""WITH RECURSIVE wf AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
cand AS (
  SELECT substr(word, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS piece_count
  FROM (SELECT word, freq,
               CAST(unnest(range(1, length(word) + 1)) AS INT) AS i
        FROM wf),
       (SELECT CAST(unnest(range(2, {max_piece_len} + 1)) AS INT) AS l)
  WHERE i + l - 1 <= length(word)
  GROUP BY piece
),
pieces AS MATERIALIZED (
  SELECT DISTINCT piece FROM (
    SELECT piece FROM (SELECT piece, piece_count FROM cand
                       ORDER BY piece_count DESC, piece ASC
                       LIMIT {max_pieces})
    UNION ALL
    SELECT substr(word, CAST(unnest(range(1, length(word) + 1)) AS INT), 1)
    FROM wf)
),
seg AS (
  SELECT word, freq, CAST(1 AS INT) AS np, CAST(-1 AS BIGINT) AS pos,
         '' AS piece
  FROM wf
  UNION ALL
  SELECT word, freq, CAST(np + length(b) AS INT) AS np, pos + 1 AS pos,
         b AS piece
  FROM (
    SELECT word, freq, np, pos,
           CASE
{cases}
             ELSE substr(word, np, 1)
           END AS b
    FROM seg WHERE np <= length(word))
)
SELECT word, pos, piece, freq FROM seg WHERE pos >= 0"""


def _unigram_sql(
    max_pieces: int = 24,
    max_piece_len: int = 4,
    n_iter: int = 2,
    max_word_len: int = 16,
) -> str:
    """Unigram-LM segmentation oracle — the twin of
    ``text.unigram_lm_segments``: the same seed inventory (shared
    counting semantics with the MaxMatch twin), then per EM round a
    Laplace-smoothed micro-nat log-prob table (the ONE float op, rounded
    to integer exactly like the engine), a WITH RECURSIVE forward
    Viterbi DP carrying a ``max_piece_len``-wide window of best scores
    as columns (an independent formulation of the engine's position
    fold), and a WITH RECURSIVE backward recovery taking the LONGEST
    piece achieving ``best[pos-l] + lp = best[pos]`` (the pinned
    tiebreak).  All DP arithmetic is BIGINT — exact cross-engine; ln()
    agrees with the JVM to ~1 ulp, 9 orders of magnitude inside the
    micro-nat quantization."""
    L = max_piece_len

    def walk(r: str) -> str:
        sw = ", ".join(f"CAST(NULL AS BIGINT) AS s{k}" for k in range(1, L))
        cands = ["w.s0 + p1.lp AS cand_1"]
        joins = [f"  LEFT JOIN lp{r} p1 ON p1.piece = substr(w.word, w.i + 1, 1)"]
        for l in range(2, L + 1):
            cands.append(
                f"CASE WHEN w.i >= {l - 1} THEN w.s{l - 1} + p{l}.lp END"
                f" AS cand_{l}"
            )
            joins.append(
                f"  LEFT JOIN lp{r} p{l} ON w.i >= {l - 1}"
                f" AND p{l}.piece = substr(w.word, w.i - {l - 2}, {l})"
            )
        carry = ", ".join(f"s{k - 1} AS s{k}" for k in range(1, L))
        keep = ", ".join(f"w.s{k}" for k in range(L))
        clist = ", ".join(f"cand_{l}" for l in range(1, L + 1))
        cands_s = ",\n           ".join(cands)
        joins_s = "\n".join(joins)
        return f"""walk{r} AS (
  SELECT word, freq, 0 AS i, CAST(0 AS BIGINT) AS s0, {sw}
  FROM wf
  UNION ALL
  SELECT word, freq, i + 1,
         list_max(list_filter([{clist}], x -> x IS NOT NULL)) AS s0,
         {carry}
  FROM (
    SELECT w.word, w.freq, w.i, {keep},
           {cands_s}
    FROM walk{r} w
{joins_s}
    WHERE w.i < length(w.word))
)"""

    def back(r: str) -> str:
        joins = [f"  JOIN dp{r} d0 ON d0.word = b.word AND d0.i = b.pos"]
        cases = []
        for l in range(L, 1, -1):
            joins.append(
                f"  LEFT JOIN dp{r} d{l} ON b.pos >= {l}"
                f" AND d{l}.word = b.word AND d{l}.i = b.pos - {l}"
            )
            joins.append(
                f"  LEFT JOIN lp{r} q{l} ON b.pos >= {l}"
                f" AND q{l}.piece = substr(b.word, b.pos - {l - 1}, {l})"
            )
            cases.append(
                f"             WHEN b.pos >= {l} AND q{l}.lp IS NOT NULL"
                f" AND d{l}.best + q{l}.lp = d0.best THEN {l}"
            )
        cases_s = "\n".join(cases)
        joins_s = "\n".join(joins)
        return f"""back{r} AS (
  SELECT word, freq, CAST(length(word) AS INT) AS pos, 0 AS k, '' AS piece
  FROM wf
  UNION ALL
  SELECT word, freq, pos - chosen AS pos, k + 1 AS k,
         substr(word, pos - chosen + 1, chosen) AS piece
  FROM (
    SELECT b.word, b.freq, b.pos, b.k,
           CASE
{cases_s}
             ELSE 1
           END AS chosen
    FROM back{r} b
{joins_s}
    WHERE b.pos > 0)
)"""

    rounds = []
    for r in range(1, n_iter + 1):
        prev = "inv0" if r == 1 else f"inv{r - 1}"
        rounds.append(f"""lp{r} AS MATERIALIZED (
  SELECT piece,
         CAST(ROUND(LN((CAST(cnt AS DOUBLE) + 1.0) / (t.T + t.V))
                    * 1000000.0, 0) AS BIGINT) AS lp
  FROM {prev},
       (SELECT CAST(SUM(cnt) AS DOUBLE) AS T,
               CAST(COUNT(*) AS DOUBLE) AS V FROM {prev}) t
)""")
        rounds.append(walk(str(r)))
        rounds.append(
            f"dp{r} AS MATERIALIZED (SELECT word, i, s0 AS best FROM walk{r})"
        )
        rounds.append(back(str(r)))
        rounds.append(
            f"seg{r} AS MATERIALIZED "
            f"(SELECT word, freq, k, piece FROM back{r} WHERE k >= 1)"
        )
        if r < n_iter:
            rounds.append(f"""inv{r} AS MATERIALIZED (
  SELECT i0.piece, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM (SELECT piece FROM inv0) i0
  LEFT JOIN (SELECT piece, SUM(freq) AS cnt FROM seg{r} GROUP BY piece) c
       USING (piece)
)""")
    body = ",\n".join(rounds)
    return f"""WITH RECURSIVE wf AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' AND length(word) <= {max_word_len} GROUP BY word
),
cand AS (
  SELECT substr(word, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS piece_count
  FROM (SELECT word, freq,
               CAST(unnest(range(1, length(word) + 1)) AS INT) AS i
        FROM wf),
       (SELECT CAST(unnest(range(2, {max_piece_len} + 1)) AS INT) AS l)
  WHERE i + l - 1 <= length(word)
  GROUP BY piece
),
inv0 AS MATERIALIZED (
  SELECT piece, CAST(MAX(piece_count) AS BIGINT) AS cnt FROM (
    SELECT piece, piece_count FROM (SELECT piece, piece_count FROM cand
                                    ORDER BY piece_count DESC, piece ASC
                                    LIMIT {max_pieces})
    UNION ALL
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS piece_count FROM (
      SELECT substr(word, CAST(unnest(range(1, length(word) + 1)) AS INT),
                    1) AS piece, freq
      FROM wf)
    GROUP BY piece)
  GROUP BY piece
),
{body}
SELECT b.word, CAST(t.cnt - b.k AS BIGINT) AS pos, b.piece, b.freq
FROM seg{n_iter} b
JOIN (SELECT word, MAX(k) AS cnt FROM seg{n_iter} GROUP BY word) t
     USING (word)"""


def _bpe_merges_sql(
    n_merges: int = 8, *, segments: bool = False, encode: bool = False
) -> str:
    """Unrolled fixed-round BPE merge learning (Sennrich et al. 2016,
    Algorithm 1) — the oracle twin of ``text.bpe_train_merges``.  Per
    round: pair statistics over EVERY adjacent symbol position
    (freq-weighted, overlaps included) -> deterministic 1-row argmax
    (count desc, lhs asc, rhs asc) -> greedy left-to-right non-overlap
    merge.  The merge here is POSITIONAL — gaps-and-islands parity over
    matching positions (a run of consecutive matches merges at even
    offsets only, exactly what a single left-to-right pass does) — an
    independent formulation of the engine trainer's skip-two-symbols
    loop (and of its ordered ``aggregate`` apply fold).
    AS MATERIALIZED on every per-round CTE: each v{r} is referenced by
    both the stats block and the merge block (the PageRank-oracle
    inline-per-reference blowup otherwise).  Integer counts only.

    ``segments=True`` emits the APPLY twin instead: the same unrolled
    training chain carried through all rounds, finally unnesting
    v{n_merges} into (word, pos, subword, freq) — the oracle for
    ``text.bpe_segment_words`` (train and apply share the chain exactly
    as the engine returns the trainer's own final segmentation).

    ``encode=True`` (round 9) emits the CORPUS-ENCODE twin: the same
    chain, then subword ids by (SUM(freq) desc, subword asc) over the
    final segmentations and a positional token unnest of the
    ``doc_id % 10 = 0`` slice joined through the segmentation — the
    oracle for ``text.bpe_encode_ids`` (empty/OOV tokens fall out of
    the inner joins on both engines identically)."""
    parts = ["""w0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, freq,
         list_append(list_transform(range(1, length(word) + 1),
                     i -> substr(word, CAST(i AS INT), 1)), '</w>') AS syms
  FROM w0
)"""]
    for r in range(n_merges):
        parts.append(f""",
b{r} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
    SELECT freq,
           syms[CAST(unnest(range(1, len(syms))) AS INT)] AS lhs,
           syms[CAST(unnest(range(1, len(syms))) AS INT) + 1] AS rhs
    FROM v{r})
  GROUP BY lhs, rhs
  ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
)""")
        if r == n_merges - 1 and not (segments or encode):
            break
        parts.append(f""",
x{r} AS MATERIALIZED (
  -- LEFT JOIN ON TRUE, not a cross join: when b{r} is EMPTY (pairs
  -- exhausted before n_merges rounds) the merge must be a NO-OP that
  -- keeps every word, exactly like the engine's early break — a cross
  -- join would annihilate the vocabulary (review r8)
  SELECT p.word, p.freq, p.i, p.syms[p.i] AS sym, b.lhs, b.rhs,
         COALESCE(p.i < len(p.syms) AND p.syms[p.i] = b.lhs
                  AND p.syms[p.i + 1] = b.rhs, FALSE) AS mt
  FROM (SELECT word, freq, syms,
               CAST(unnest(range(1, len(syms) + 1)) AS INT) AS i
        FROM v{r}) p LEFT JOIN b{r} b ON TRUE
),
y{r} AS MATERIALIZED (
  SELECT *, mt AND (i - MIN(i) OVER (PARTITION BY word, mt, isl)) % 2 = 0 AS kp
  FROM (SELECT *, i - ROW_NUMBER() OVER (PARTITION BY word, mt ORDER BY i) AS isl
        FROM x{r})
),
v{r + 1} AS MATERIALIZED (
  SELECT word, freq,
         list(CASE WHEN kp THEN lhs || rhs ELSE sym END ORDER BY i)
           FILTER (NOT dropped) AS syms
  FROM (SELECT *, COALESCE(LAG(kp) OVER (PARTITION BY word ORDER BY i), FALSE)
                    AS dropped FROM y{r})
  GROUP BY word, freq
)""")
    if encode:
        parts.append(f""",
seg AS MATERIALIZED (
  SELECT word, CAST(i - 1 AS BIGINT) AS subword_pos,
         syms[CAST(i AS INT)] AS subword, freq
  FROM (SELECT word, freq, syms,
               CAST(unnest(range(1, len(syms) + 1)) AS INT) AS i
        FROM v{n_merges})
),
ids AS MATERIALIZED (
  SELECT subword,
         CAST(ROW_NUMBER() OVER (ORDER BY sub_count DESC, subword ASC) - 1
              AS BIGINT) AS subword_id
  FROM (SELECT subword, SUM(freq) AS sub_count FROM seg GROUP BY subword)
),
tok AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[CAST(i AS INT)] AS word
  FROM (SELECT doc_id, toks,
               CAST(unnest(range(1, len(toks) + 1)) AS INT) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id % 10 = 0))
)""")
        final = """SELECT t.doc_id, t.pos, s.subword_pos, i.subword_id, s.subword
FROM tok t JOIN seg s USING (word) JOIN ids i USING (subword)"""
    elif segments:
        final = f"""SELECT word, CAST(i - 1 AS BIGINT) AS pos,
       syms[CAST(i AS INT)] AS subword, freq
FROM (SELECT word, freq, syms,
             CAST(unnest(range(1, len(syms) + 1)) AS INT) AS i
      FROM v{n_merges})"""
    else:
        final = "\nUNION ALL\n".join(
            f"SELECT CAST({r} AS BIGINT) AS merge_rank, lhs, rhs, pair_count FROM b{r}"
            for r in range(n_merges)
        )
    return "WITH " + "".join(parts) + "\n" + final


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with the band table computed ONCE over the corpus
    and split even/odd — banding is per-doc, so filtering the shared
    (persisted) table is identical to banding each side, and it mirrors
    production where the history index is already materialized (a second
    shingle+minhash pass over history per batch would defeat the point).

    The band index is caller-owned (the operator must never unpersist
    it — dedup.py:649), but this caller is repo code, so it opts its own
    cache into the session registry via ``tracked_persist``: round-8
    harness dogfooding caught exactly this site leaking one persistent
    RDD per invocation past ``release_caches()``."""
    from dask_mwu_spark.cache import tracked_persist

    bands = tracked_persist(dd.minhash_band_keys(_docs(spark, sf_dir)))
    return dd.incremental_dedup_flags(
        _docs(spark, sf_dir).where(F.col("doc_id") % 2 == 1),
        bands.where(F.col("doc_id") % 2 == 0),
        batch_bands=bands.where(F.col("doc_id") % 2 == 1),
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# Fixed query-vector ids for the batch dense-ANN queries — all present
# at every SF (embeddings has 500 rows at sf0.001/sf0.01, 2000 at
# sf0.1), mirrored literally in the oracle's IN list.
_BATCH_QUERY_IDS = (3, 47, 101, 163, 222, 287, 341, 499)


# Registered phrase-search query set: in-vocabulary 2/3-word phrases,
# an overlap-capable self-phrase, and one phrase that never occurs in
# the synthetic corpus (exercises the absent case).  Mirrored literally
# in the generated oracle.
_PHRASES = (
    "table scan",
    "sort merge",
    "merge join",
    "batch batch batch",
    "sort merge join",
)


def _sq(s: str) -> str:
    """Single-quote a string for interpolation into generated SQL —
    doubles embedded quotes so a phrase containing ``'`` cannot break
    (or inject into) the oracle text."""
    return "'" + s.replace("'", "''") + "'"


def _phrase_search_oracle(phrases) -> str:
    """Generate the DuckDB twin of phrase_search: per phrase an
    (m-1)-way positional self-join (0-based positions to match the
    engine's posexplode), UNION ALL, then the (phrase_id, doc_id)
    aggregation and the phrase-string CASE."""
    arms = []
    for pid, p in enumerate(phrases):
        words = p.split(" ")
        joins = " ".join(
            f"JOIN t t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.p = t0.p + {i} AND t{i}.word = {_sq(w)}"
            for i, w in enumerate(words)
            if i > 0
        )
        arms.append(
            f"SELECT {pid} AS phrase_id, t0.doc_id, t0.p AS start_pos "
            f"FROM t t0 {joins} WHERE t0.word = {_sq(words[0])}"
        )
    case = " ".join(
        f"WHEN {pid} THEN {_sq(p)}" for pid, p in enumerate(phrases)
    )
    return f"""
WITH {_TOK_CTE},
t AS (SELECT doc_id, word, pos - 1 AS p FROM tok),
m AS ({' UNION ALL '.join(arms)}),
agg AS (
  SELECT phrase_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         CAST(MIN(start_pos) AS BIGINT) AS first_pos
  FROM m GROUP BY 1, 2
)
SELECT CAST(phrase_id AS BIGINT) AS phrase_id,
       CASE phrase_id {case} END AS phrase,
       doc_id, n_matches, first_pos
FROM agg
"""


def _phrase_slop_oracle(phrases, slop: int) -> str:
    """Generate the DuckDB twin of phrase_search_slop: per phrase the
    greedy earliest-successor chain as nested correlated-MIN
    subqueries (p1 = MIN pos of word1 > p0, p2 = MIN pos of word2 >
    p1, ...) with the total-gap filter pm - p0 <= (m-1) + slop —
    greedy minimizes the end position, so it is exact for the
    ordered-window semantics; slop=0 degenerates to the consecutive
    match (pinned by pytest against phrase_search)."""
    arms = []
    for pid, p in enumerate(phrases):
        words = p.split(" ")
        m = len(words)
        inner = (
            f"SELECT doc_id, p AS p0 FROM t WHERE word = {_sq(words[0])}"
        )
        for i, w in enumerate(words[1:], start=1):
            inner = (
                f"SELECT *, (SELECT MIN(x.p) FROM t x WHERE x.doc_id = "
                f"a{i - 1}.doc_id AND x.word = {_sq(w)} AND x.p > "
                f"a{i - 1}.p{i - 1}) AS p{i} FROM ({inner}) a{i - 1}"
            )
        arms.append(
            f"SELECT {pid} AS phrase_id, doc_id, p0 AS start_pos "
            f"FROM ({inner}) WHERE p{m - 1} IS NOT NULL "
            f"AND p{m - 1} - p0 <= {m - 1 + slop}"
        )
    case = " ".join(
        f"WHEN {pid} THEN {_sq(p)}" for pid, p in enumerate(phrases)
    )
    return f"""
WITH {_TOK_CTE},
t AS (SELECT doc_id, word, pos - 1 AS p FROM tok),
m AS ({' UNION ALL '.join(arms)}),
agg AS (
  SELECT phrase_id, doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_matches,
         CAST(MIN(start_pos) AS BIGINT) AS first_pos
  FROM m GROUP BY 1, 2
)
SELECT CAST(phrase_id AS BIGINT) AS phrase_id,
       CASE phrase_id {case} END AS phrase,
       doc_id, n_matches, first_pos
FROM agg
"""


def _seed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default IVF seed (full-table vec_id < 16) as an EXPLICIT
    centroid table — the incremental query must pin centroids across
    build and update (the fixed-centroid contract).

    Collected to a 16-row LocalRelation (optimization r13, the
    kmeans_centroids literal-table pattern; bounded-collect contract):
    a filter-derived centroid table carries the ``vec_id < 16``
    constraint, which Catalyst propagates through the probes equi-join
    into the posting-list branch as ``cent_id < 16`` and pushes INTO
    ivf_index's 1-row centroid cross — a conditioned BNLJ that
    re-evaluates the whole assignment fold per row (r12 worked around
    it with a full index materialization barrier per run).  Constraints
    survive localCheckpoint, so the barrier must be a literal relation:
    16 rows, one bounded collect, no constraint, no barrier on the
    index itself.  float→double is exact, so the plan values are
    bit-identical to the filter form."""
    from pyspark.sql import functions as F

    rows = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") < 16)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        .collect()
    )
    return spark.createDataFrame(
        [(r.cent_id, list(r.embedding)) for r in rows],
        "cent_id: long, embedding: array<double>",
    )


def _q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev_t = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = ev_t.groupBy("event_type").agg(
        F.max("value").alias("vmax"), F.count(F.lit(1)).alias("n_type")
    )
    joined = sk.salted_join(ev_t, dim, on=["event_type"], n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.first("n_type").alias("n_type"),
        F.sum((F.col("value") > F.col("vmax") / 2).cast("long")).alias(
            "n_above_half"
        ),
        F.round(F.first("vmax"), 6).alias("vmax"),
    )


def _q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style argmin-per-group star join: per part, the cheapest
    observed (lineitem) offer and its supplier + nation.  The argmin is
    ``min(struct(price, suppkey))`` — a MAP-SIDE-COMBINABLE aggregate
    (struct min merges like any min), so no per-part window sort ever
    happens; dims join broadcast.  Deterministic: suppkey tiebreak on
    tied prices."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_suppkey",
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    best = li.groupBy("p_partkey").agg(
        F.count(F.lit(1)).alias("n_offers"),
        F.min(F.struct(F.col("price"), F.col("l_suppkey").alias("sk"))).alias(
            "_b"
        ),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(part), "p_partkey")
        .select(
            "p_partkey",
            "p_brand",
            "n_offers",
            F.round(F.col("_b.price"), 6).alias("best_price"),
            F.col("_b.sk").alias("s_suppkey"),
        )
        .join(F.broadcast(supp), "s_suppkey")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey", "p_brand", "n_offers", "best_price",
            "s_suppkey", "s_name", F.col("n_name").alias("nation"),
        )
    )


def _q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style customer order-count distribution: how many
    customers placed exactly k orders — INCLUDING the zero-order
    customers the inner join would drop (that inclusion is the whole
    point of Q13 and the classic left-outer-with-zero-groups trap).

    Shape: pre-aggregate orders per custkey (map-side-combinable count,
    so raw order rows never survive the shuffle), LEFT join customer on
    the counts table, coalesce the miss to 0, then a second tiny groupBy
    on the bounded count key.  At 100 TB both shuffles key on custkey /
    c_count — no skew (custkey is near-unique; c_count has ~hundreds of
    distinct values), no window, no broadcast of anything unbounded.
    Exact: integer counts only.  No counterpart in the reference
    (SURVEY.md section 2.1 — OLAP extension surface).
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(per_cust, "c_custkey", "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def _q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style micro-quantity revenue: per brand, the revenue and
    line count from lineitems whose quantity is below 20% of that part's
    average quantity — the canonical correlated-scalar-subquery shape,
    decorrelated into one per-part aggregate + a key join back.

    Exactness: quantities are integral (checked: every l_quantity in the
    testdata is a whole number), so ``qty < 0.2 * avg(qty)`` is evaluated
    as the INTEGER inequality ``5 * n * qty < sum_qty`` — no float
    division, no ulp knife-edge, identical in both engines by
    construction.  Revenue sums as DECIMAL(18,2) (exact under any
    partitioning / merge order), cast to double only at output.

    Scale: the per-part stats table has one row per traded part — far too
    big to broadcast at 100 TB, so it key-joins back on l_partkey (both
    sides already shuffle-partitioned by the same key from the groupBy);
    the part dim joins broadcast for the brand label; final groupBy is on
    the tiny brand key.  No counterpart in the reference (SURVEY.md
    section 2.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("_qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("_price"),
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum("_qty").alias("_sum_qty"),
        F.count(F.lit(1)).alias("_n"),
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        li.join(stats, "l_partkey")
        .where(F.col("_qty") * 5 * F.col("_n") < F.col("_sum_qty"))
        .join(F.broadcast(part), "l_partkey")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_qty_lines"),
            F.sum("_price").cast("double").alias("small_qty_revenue"),
        )
    )


def _q_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style dormant-capital audit: customers with an
    above-average positive account balance and NO order in the trailing
    365 days (cutoff = global max order date − 365d, so the query is
    deterministic on any snapshot), grouped by nation — the canonical
    anti-join + scalar-subquery composition.  (Plain "never ordered" is
    near-vacuous on this data — 0/0/1 customers across the three SFs —
    so the recency form is what actually exercises the anti-join.)

    Exactness: the balance threshold is avg(positive balances) computed
    as ONE division of an exact DECIMAL(18,2) sum (order-independent
    under any partitioning) by an exact count — both engines perform the
    identical single IEEE divide, so the strict ``>`` compare is
    bit-stable; the original double balance column is compared (never a
    re-rounded copy).  The date cutoff is exact integer-microsecond
    timestamp arithmetic on both engines.  Output balance totals are
    DECIMAL sums cast to double.

    Scale: recent-orderer custkeys pre-aggregate to DISTINCT map-side
    before the LEFT ANTI join (raw order rows never shuffle); the two
    1-row scalars (date cutoff, balance threshold) cross in by broadcast
    (waived 1-row totals-cross pattern); nation joins broadcast; final
    groupBy is on the 25-value nation key.  No counterpart in the
    reference (SURVEY.md section 2.1).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.col("c_acctbal").cast("decimal(18,2)").alias("_bal"),
    )
    thr = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum("_bal").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("_thr")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderdate"
    )
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 365 DAYS")).alias("_cut")
    )
    orderers = (
        orders.crossJoin(F.broadcast(cutoff))
        .where(F.col("o_orderdate") >= F.col("_cut"))
        .select("c_custkey")
        .distinct()
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    return (
        cust.join(orderers, "c_custkey", "left_anti")
        .crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("_thr"))
        .join(F.broadcast(nat), "c_nationkey")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("_bal").cast("double").alias("totacctbal"),
        )
    )


def _q_supplier_sole_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shape "suppliers who kept orders waiting": per supplier,
    the number of finished multi-supplier orders on which it was the ONLY
    supplier that shipped late (l_shipdate more than 60 days after
    o_orderdate — this schema has no receipt/commit dates, SURVEY.md
    section 2.1, so order-age is the lateness clock).

    Q21's textbook form is a correlated EXISTS (another supplier on the
    order) + NOT EXISTS (another LATE supplier on the order) — two extra
    probes of the fact table per row.  Decorrelated Spark shape: ONE
    groupBy over the order-joined lineitems computing n_suppliers,
    n_late_suppliers, and (valid only when n_late_suppliers = 1, the only
    place it is read) max(late supplier); the EXISTS pair becomes the
    filter ``n_suppliers >= 2 AND n_late_suppliers = 1``.  The oracle
    runs the textbook correlated form, so this checks the decorrelation
    itself.

    Scale: lineitem→orders is a key join on l_orderkey (at 100 TB orders
    is NOT broadcastable; both sides shuffle once on the same key, and
    the 'F'-status filter prunes orders before the shuffle); the
    per-order aggregate keys on l_orderkey (near-unique, skew-free); the
    survivor table (one row per sole-late order) groupBys on the bounded
    supplier key; the supplier dim broadcasts for the name.  Exact:
    integer counts and exact timestamp-interval compares only.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_order = (
        li.join(orders, "l_orderkey")
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("_late"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("_n_supp"),
            F.countDistinct(
                F.when(F.col("_late"), F.col("l_suppkey"))
            ).alias("_n_late"),
            F.max(F.when(F.col("_late"), F.col("l_suppkey"))).alias("_sk"),
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("_sk"), "s_suppkey", "s_name"
    )
    return (
        per_order.where((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
        .groupBy("_sk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), "_sk")
        .select("s_suppkey", "s_name", "numwait")
    )


def _q_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shape supplier-count-per-part-class: for each (p_brand,
    p_type, p_size), how many DISTINCT suppliers actually traded the part
    — excluding suppliers on a blocklist (here: negative account balance,
    standing in for Q16's complaints predicate).  The canonical
    distinct-count + NOT-IN-subquery composition; the oracle runs the
    literal NOT IN form.

    Scale: the (partkey, suppkey) relationship distincts FIRST (map-side
    combinable — raw lineitems collapse before any join); the blocklist
    is a filtered dim of bounded size, applied as a BROADCAST anti join
    (never a shuffle); part joins on the already-partitioned partkey (a
    key join, NOT broadcast — at 100 TB part scales with the fact
    table); the final groupBy keys on the bounded class triple with a
    distinct-aggregate whose per-group cardinality is capped by the
    supplier universe.  Exact: integers and string keys only.
    """
    rel = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p_partkey"), "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        rel.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(part, "p_partkey")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shape national market share: within PROMO-type parts sold
    to AMERICA-region customers, the fraction of yearly revenue supplied
    by NATION_1 — the classic 6-table star with a conditional-numerator
    share (sum(CASE)/sum) per year.

    Scale: the fact chain lineitem→part→orders→customer→supplier is ALL
    key joins (at 100 TB part/orders/customer/supplier every one scales
    with the fact table — none is broadcastable); only the 25-row nation
    and 5-row region dims broadcast, and the region predicate prunes the
    customer side BEFORE its fact join.  The final groupBy keys on the
    handful of order years.

    Exactness: numerator and denominator are DECIMAL(18,2)-lattice
    revenue sums (exact under any partitioning / merge order), cast to
    double, ONE divide, round 6 — the identical IEEE operation on both
    engines.  No counterpart in the reference (SURVEY.md section 2.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "PROMO")
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    amer_nations = (
        nat.join(
            F.broadcast(reg.where(F.col("r_name") == "AMERICA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("c_nationkey"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(amer_nations), "c_nationkey")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_custkey",
        F.year("o_orderdate").alias("o_year"),
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("l_suppkey"), F.col("n_name").alias("_sn"))
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(part, "l_partkey")
        .join(orders, "l_orderkey")
        .join(cust, "o_custkey")
        .join(supp, "l_suppkey")
        .groupBy("o_year")
        .agg(
            F.sum("_rev").cast("double").alias("total_revenue"),
            F.sum(
                F.when(F.col("_sn") == "NATION_1", F.col("_rev")).otherwise(zero)
            ).cast("double").alias("nation_revenue"),
        )
        .select(
            "o_year",
            "total_revenue",
            "nation_revenue",
            F.round(
                F.col("nation_revenue") / F.col("total_revenue"), 6
            ).alias("mkt_share"),
        )
    )


def _q_priority_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shape order-priority check: of the orders placed in 1996,
    how many per priority class had at least one line shipped more than
    90 days after the order date — the canonical EXISTS → semi-join
    decorrelation (Q4's "was anything late on this order" audit).

    Scale: orders prune to the date window BEFORE their fact join; the
    lateness predicate needs o_orderdate, so lineitem key-joins the
    pruned orders on l_orderkey, and the qualifying (orderkey, priority)
    pairs collapse with a map-side-combinable DISTINCT (orderkey is
    near-unique — no skew) — the EXISTS becomes "distinct then count",
    never a correlated probe.  Final groupBy is on the 5-value priority
    key.  Exact: integer counts and timestamp-interval compares only.
    No counterpart in the reference (SURVEY.md section 2.1).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_orderdate",
            "o_orderpriority",
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(orders, "l_orderkey")
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shape concentration cut: suppliers whose discounted
    revenue exceeds 1.02x the MEAN supplier revenue — the GROUP BY +
    HAVING-scalar-subquery composition.  Q11's literal fraction-of-total
    threshold is scale-DEPENDENT (a fixed 1.02% matches 33/100 suppliers
    at sf0.01 and 0/1000 at sf0.1 by construction), so the mean-relative
    form is used: it exercises the same shape and stays non-degenerate
    at every SF (probed 3/10, 33/100, 330/1000).

    Scale: one map-side-combinable supplier-key groupBy over lineitem;
    the (total, count) scalar is a 1-row broadcast cross (waived totals
    pattern); the supplier dim joins on the already-partitioned suppkey
    (key join — supplier scales with SF).

    Exactness: per-supplier values and the grand total are exact
    DECIMAL(18,2)-lattice sums; the HAVING compare is evaluated as
    ``CAST(val AS DOUBLE) * n * 100 > CAST(total AS DOUBLE) * 102`` —
    identical operand doubles and identical left-associated IEEE
    multiply chains on both engines, so the strict ``>`` is bit-stable
    (the dormant-balance contract).  No counterpart in the reference
    (SURVEY.md section 2.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("_rev").alias("_val"))
    totals = per_supp.agg(
        F.sum("_val").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_suppkey", "s_name"
    )
    return (
        per_supp.crossJoin(F.broadcast(totals))
        .where(
            F.col("_val").cast("double") * F.col("_n") * F.lit(100.0)
            > F.col("_tot").cast("double") * F.lit(102.0)
        )
        .join(supp, "l_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            F.col("_val").cast("double").alias("total_value"),
        )
    )


def _q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shape large-volume customers: orders whose total line
    quantity exceeds 200, joined back to orders and customer for the
    reporting columns — the canonical HAVING-over-fact-groupBy-then-
    rejoin shape (a groupBy result used as a semi filter on its own
    grain).

    Scale: the quantity rollup is a map-side-combinable groupBy on the
    near-unique l_orderkey; the HAVING prunes it to the rare heavy
    orders BEFORE any join, so the joins back to orders (same orderkey
    partitioning) and customer (custkey key join — customer scales with
    SF, not broadcastable) move only qualifying rows.  Exact: quantities
    are integral (cast long — checked in _q_small_qty_revenue), prices
    pass through unchanged.  No counterpart in the reference (SURVEY.md
    section 2.1).
    """
    heavy = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_quantity").cast("long").alias("_q"))
        .groupBy("l_orderkey")
        .agg(F.sum("_q").alias("sum_qty"))
        .where(F.col("sum_qty") > 200)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_orderkey",
        "o_custkey",
        # emitted as a calendar string: timestamp columns round-trip with
        # engine-specific units (ns vs us) — the date string is exact
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_totalprice",
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_custkey", "c_name"
    )
    return (
        heavy.join(orders, "l_orderkey")
        .join(cust, "o_custkey")
        .select(
            "c_custkey", "c_name", "o_orderkey",
            "o_orderdate", "o_totalprice", "sum_qty",
        )
    )


def _q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape disjunctive bracket revenue: ONE row (n_lines,
    revenue) over lineitem x part under an OR of three brand/size/
    quantity brackets — the classic test that a disjunctive multi-table
    predicate still executes as an EQUI join on partkey with the OR
    evaluated post-join (NOT a nested-loop theta join), and that the
    per-bracket part predicates still prune the part scan.

    Scale: equi key join on partkey (part scales with SF — no
    broadcast assumption needed; AQE picks broadcast at test SFs); the
    OR brackets are codegen row expressions; the final aggregate is a
    1-row total.  Exact: DECIMAL(18,2)-lattice revenue sum cast to
    double at output, integer/long compares in the brackets.  No
    counterpart in the reference (SURVEY.md section 2.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_quantity").cast("long").alias("_qty"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("_qty").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("_qty").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("_qty").between(20, 30)
        )
    )
    return (
        li.join(part, "p_partkey")
        .where(bracket)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("_rev").cast("double").alias("revenue"),
        )
    )


def _q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape top supplier: the supplier(s) achieving THE maximum
    discounted revenue over a fixed quarter (1996 Q1) — the
    equality-to-a-scalar-max-subquery shape (argmax via scalar subquery;
    Q15's view is inlined as a CTE on both engines).

    Scale: lineitem key-joins the date-pruned orders on l_orderkey (the
    quarter filter prunes orders BEFORE the shuffle); per-supplier
    revenue is one map-side-combinable groupBy; the 1-row MAX crosses in
    by broadcast (waived totals pattern); the supplier dim joins on the
    already-partitioned suppkey.  Exactness: revenues are exact
    DECIMAL(18,2)-lattice sums, so the ``rev = max(rev)`` equality is an
    exact-decimal compare — no float knife-edge at all (stronger than
    the dormant-balance double contract).  No counterpart in the
    reference (SURVEY.md section 2.1).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    rev = (
        li.join(orders, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.sum("_rev").alias("_val"))
    )
    mx = rev.agg(F.max("_val").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_suppkey", "s_name"
    )
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("_val") == F.col("_mx"))
        .join(supp, "l_suppkey")
        .select(
            "s_suppkey",
            "s_name",
            F.col("_val").cast("double").alias("total_revenue"),
        )
    )


def _q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shape bilateral shipping volume: yearly discounted revenue
    between any ordered pair of FOUR named nations (customer nation !=
    supplier nation) — the symmetric cross-dimension predicate that
    cannot be pushed into either dim alone but prunes both sides to the
    named nation set BEFORE the fact joins.  (Q7's literal two-nation
    form is empty at sf0.001 — too few parties — so the four-nation
    bilateral set keeps the query discriminating at every SF: probed
    20/84/~100 group rows.)

    Scale: the per-side nation filters broadcast into customer and
    supplier (each side keeps only its two candidate nations — the
    pushdown Q7 is designed to test); the fact chain
    lineitem→orders→customer→supplier is all key joins; the OR evaluates
    post-join as a codegen row predicate; final groupBy on the bounded
    (nation, nation, year) triple.  Exact: DECIMAL revenue, integer
    year/counts.  No counterpart in the reference (SURVEY.md 2.1).
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    two = nat.where(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(two.select(F.col("n_nationkey").alias("c_nationkey"),
                                   F.col("n_name").alias("cust_nation"))),
            "c_nationkey",
        )
        .select(F.col("c_custkey").alias("o_custkey"), "cust_nation")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(two.select(F.col("n_nationkey").alias("s_nationkey"),
                                   F.col("n_name").alias("supp_nation"))),
            "s_nationkey",
        )
        .select(F.col("s_suppkey").alias("l_suppkey"), "supp_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        "o_custkey",
        F.year("o_orderdate").alias("o_year"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    sym = F.col("cust_nation") != F.col("supp_nation")
    return (
        li.join(orders, "l_orderkey")
        .join(cust, "o_custkey")
        .join(supp, "l_suppkey")
        .where(sym)
        .groupBy("cust_nation", "supp_nation", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("_rev").cast("double").alias("volume"),
        )
    )


def _q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shape forecast-revenue-change: ONE row (n_lines, revenue)
    from 1996 lineitems with discount in [0.05, 0.07] and quantity < 24 —
    THE predicate-pushdown benchmark: every filter is a scan-stage row
    predicate, the only join is the date window's orders key join, and
    the aggregate is a 1-row map-side-combinable total.  (TPC-H filters
    on l_shipdate which this schema lacks; the order-year window keeps
    the same shape with one key join added.)

    Exactness: revenue = extendedprice * discount summed on the
    DECIMAL(18,2) x DECIMAL(18,2) lattice — exact under any partitioning;
    the discount BETWEEN bounds are the same IEEE doubles on both
    engines (parquet column and literals parse identically).  No
    counterpart in the reference (SURVEY.md section 2.1).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_discount").between(0.05, 0.07) & (F.col("l_quantity") < 24)
    )
    return (
        li.join(orders, "l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            ).cast("double").alias("revenue"),
        )
    )


def _q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shape promo revenue share: per month of 1996, the
    percentage of discounted revenue coming from PROMO-type parts — the
    conditional-numerator share rolled up on a calendar key (the monthly
    cousin of star_market_share's yearly national share).

    Scale: date-pruned orders key-join lineitem; part joins on the
    partitioned partkey carrying only p_type; DECIMAL numerator /
    denominator sums, ONE divide rounded 6.  No counterpart in the
    reference (SURVEY.md section 2.1).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.month("o_orderdate").alias("o_month"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("p_partkey"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(orders, "l_orderkey")
        .join(part, "p_partkey")
        .groupBy("o_month")
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("_rev")).otherwise(zero)
            ).cast("double").alias("promo_revenue"),
            F.sum("_rev").cast("double").alias("total_revenue"),
        )
        .select(
            "o_month",
            "promo_revenue",
            "total_revenue",
            F.round(
                F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"), 6
            ).alias("promo_share_pct"),
        )
    )


def _q_retail_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shape profit rollup: per (supplier nation, order year),
    the realized discounted revenue minus the retail value of the goods
    (retailprice x quantity — this schema has no partsupp supplycost, so
    retail value is the cost proxy; the MARGIN sign is not the point,
    the shape is: an amount mixing columns of two fact-side tables,
    rolled up by a dimension of a third).

    Scale: the fact chain lineitem→part→orders→supplier is ALL key
    joins; only the 25-row nation dim broadcasts; the groupBy keys on
    the bounded (nation, year) pair.  Exactness: both terms live on the
    DECIMAL(18,2) x DECIMAL/BIGINT lattice (retail x integral quantity
    is exact), subtracted per row BEFORE an exact DECIMAL sum — no float
    anywhere until the output cast.  No counterpart in the reference
    (SURVEY.md section 2.1).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_partkey").alias("p_partkey"),
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("_rev"),
        F.col("l_quantity").cast("long").alias("_qty"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").cast("decimal(18,2)").alias("_retail")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.year("o_orderdate").alias("o_year"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
    )
    amount = (F.col("_rev") - F.col("_retail") * F.col("_qty")).alias("_amt")
    return (
        li.join(part, "p_partkey")
        .join(orders, "l_orderkey")
        .join(supp, "l_suppkey")
        .join(F.broadcast(nat), "s_nationkey")
        .select("nation", "o_year", amount)
        .groupBy("nation", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("_amt").cast("double").alias("margin_vs_retail"),
        )
    )


def _q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shape returned-item report: the top-20 customers by
    revenue on RETURNED ('R' flag) lineitems, with nation — the classic
    "who is sending the most money back" account-review query
    (filter-fact → customer rollup → bounded top-k).

    Scale: the returnflag filter prunes lineitem AT THE SCAN; the fact
    chain lineitem→orders→customer is key joins; revenue rolls up on the
    near-unique custkey (map-side combinable); the top-20 head is
    TakeOrderedAndProject (never a global sort); nation broadcasts for
    the label.  Exactness: DECIMAL revenue; the (revenue DESC, custkey
    ASC) order key is exact, so the top-20 frontier is deterministic on
    both engines.  No counterpart in the reference (SURVEY.md 2.1).
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("_rev"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_custkey", "c_name", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    return (
        li.join(orders, "l_orderkey")
        .join(cust, "o_custkey")
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(F.sum("_rev").alias("_val"))
        .join(F.broadcast(nat), "c_nationkey")
        .orderBy(F.col("_val").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.col("_val").cast("double").alias("returned_revenue"),
        )
    )


def _q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: both sides are the contribution-
    expansion rolling distinct (window_days=1 and =28) joined on the
    window end — exact integer counts, ratio is one division."""
    events = load_table(spark, sf_dir, "events")
    dau = ev.rolling_distinct_users(events, window_days=1).select(
        "window_end", F.col("n_active_users").alias("dau")
    )
    mau = ev.rolling_distinct_users(events, window_days=28).select(
        "window_end", F.col("n_active_users").alias("mau")
    )
    return dau.join(mau, "window_end").select(
        "window_end",
        "dau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "stickiness"
        ),
    )


def _q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume: revenue from lineitems whose
    CUSTOMER and SUPPLIER sit in the same nation — the classic five-way
    star join with a cross-dimension equality.  Revenue sums as
    DECIMAL(18,4) (price/discount have 2 decimal digits, so the product
    and sum are exact in both engines — the star_revenue_by_nation
    lesson); the only shuffle is the lineitem->orders key join, every
    dimension side is an explicit broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (
                F.lit(1).cast("decimal(18,2)")
                - F.col("l_discount").cast("decimal(18,2)")
            )
        ).alias("rev"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


def extension_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "text_stats": lambda s, d: tx.text_stats(_docs(s, d)),
        "text_token_count": lambda s, d: tx.token_count_bpe(_docs(s, d)),
        "text_lang_id": lambda s, d: tx.lang_confusion(_docs(s, d)),
        "text_quality": lambda s, d: tx.quality_scores(_docs(s, d)),
        # rows-only (HLL sketch values are engine-specific; pytest gates
        # the accuracy bound instead)
        "text_cardinality": lambda s, d: tx.cardinality_by_source(_docs(s, d)),
        "text_fingerprints": lambda s, d: tx.winnow_fingerprints(_docs(s, d)),
        "text_vocab_topk": lambda s, d: tx.vocab_topk(_docs(s, d), k=20),
        "text_tfidf": lambda s, d: tx.tfidf_top_terms(_docs(s, d), k=3),
        # round 8: learned BPE merges (Sennrich et al. 2016) — fixed-round
        # greedy pair merging over the word-frequency table; oracle is the
        # unrolled positional (islands-parity) twin.  max_vocab=1_000_000
        # bounds the trainer's driver collect; the test corpora have 31
        # distinct words, so the cap is a no-op and the uncapped oracle
        # stays exact
        "text_bpe_merges": lambda s, d: tx.bpe_train_merges(
            _docs(s, d), n_merges=8, max_vocab=1_000_000
        ),
        # the APPLY twin: learned merges segmented back onto the vocab
        "text_bpe_segments": lambda s, d: tx.bpe_segment_words(
            _docs(s, d), n_merges=8, max_vocab=1_000_000
        ),
        # round 9: the tokenizer's last mile — per-document subword-id
        # stream (train on the full corpus, encode the doc_id%10 slice:
        # the train-once/encode-many shape, and it bounds the compare
        # table at sf0.1).  max_vocab=1_000_000 satisfies the r10
        # bounded-broadcast contract; the test corpora have 31 distinct
        # words, so the cap is a measured no-op and the oracle (which
        # trains uncapped) stays exact.
        "text_bpe_encode": lambda s, d: tx.bpe_encode_ids(
            _docs(s, d),
            n_merges=8,
            max_vocab=1_000_000,
            encode_docs=_docs(s, d).where(F.col("doc_id") % 10 == 0),
        ),
        # round 9: MaxMatch (WordPiece-apply) greedy longest-match
        # segmentation against a learned substring piece inventory —
        # the zero-iteration counterpart to BPE's merge-order apply
        "text_maxmatch_segments": lambda s, d: tx.maxmatch_segment_words(
            _docs(s, d), max_pieces=24, max_piece_len=4
        ),
        # round 10: unigram-LM (SentencePiece) Viterbi-EM segmentation —
        # completes the tokenizer triple (BPE / WordPiece / unigram).
        # max_word_len=16 mirrors the oracle's fixed DP unroll and is a
        # measured no-op on the test corpora (longest word is 10 chars)
        "text_unigram_segments": lambda s, d: tx.unigram_lm_segments(
            _docs(s, d),
            max_pieces=24,
            max_piece_len=4,
            n_iter=2,
            max_word_len=16,
        ),
        # round 10: the unigram encode last-mile — trains on the full
        # corpus, encodes the doc_id%10 slice (the text_bpe_encode
        # train-once/encode-many demonstration); max_vocab caps the
        # dictionary broadcast (measured no-op on the test corpora)
        "text_unigram_encode": lambda s, d: tx.unigram_encode_ids(
            _docs(s, d),
            max_pieces=24,
            max_piece_len=4,
            n_iter=2,
            max_word_len=16,
            max_vocab=1_000_000,
            encode_docs=_docs(s, d).where(F.col("doc_id") % 10 == 0),
        ),
        "dedup_exact": lambda s, d: dd.exact_dup_groups(_docs(s, d)),
        "dedup_ngram_jaccard": lambda s, d: dd.ngram_jaccard_pairs(
            _docs(s, d), threshold=0.5, max_df=100
        ),
        "dedup_minhash_signatures": lambda s, d: dd.minhash_signatures(_docs(s, d)),
        "dedup_minhash_lsh": lambda s, d: dd.minhash_lsh_pairs(
            _docs(s, d), est_threshold=0.25
        ),
        "dedup_verified": lambda s, d: dd.verified_pairs(
            _docs(s, d), est_threshold=0.25, threshold=0.5
        ),
        "dedup_edit_sim": lambda s, d: dd.edit_similarity_pairs(
            _docs(s, d), est_threshold=0.25, threshold=0.6
        ),
        "dedup_components": lambda s, d: dd.dup_components(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25)
        ),
        # fixed-round mode: no per-round convergence count jobs.  LSH
        # components are star-ish (diameter <= a few hops); hop+jump at
        # least doubles distance per round, so 6 rounds cover diameter 32
        "dedup_components_fixed": lambda s, d: dd.dup_components(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25), n_rounds=6
        ),
        "dedup_simhash": lambda s, d: dd.simhash(_docs(s, d)),
        "dedup_simhash_pairs": lambda s, d: dd.simhash_pairs(
            _docs(s, d), max_hamming=4
        ),
        "sim_cosine_topk": lambda s, d: sim.cosine_topk(_emb(s, d)),
        "mm_decode_meta": lambda s, d: mm.decode_media(
            mm.attach_payload(_docs(s, d))
        ),
        "mm_resize_plan": lambda s, d: mm.resize_plan(
            mm.attach_payload(_docs(s, d)), target_w=224, target_h=224
        ),
        "mm_sample_frames": lambda s, d: mm.sample_frames(
            mm.attach_payload(_docs(s, d)), every_k=4
        ),
        "mm_features": lambda s, d: mm.extract_features(
            mm.attach_payload(_docs(s, d)), dim=8
        ).select("doc_id", F.posexplode("features").alias("dim_idx", "feat")),
        # round 5: REAL codecs end-to-end — text bytes → genuine PNG/WAV/
        # MJPNG containers → real chunk-walk + zlib-inflate + unfilter /
        # stdlib-wave decode; oracle recomputes every stat independently
        # from character arithmetic on the same text (ASCII corpus)
        "mm_real_decode_stats": lambda s, d: mm.real_decode_stats(
            mm.attach_real_payload(_docs(s, d)), every_k=2
        ),
        # round 8: same end-to-end real-decode contract, video arm through
        # the STANDARD RIFF/AVI container (stdlib uncompressed-DIB codec)
        "mm_avi_decode_stats": lambda s, d: mm.real_decode_stats(
            mm.attach_real_payload(_docs(s, d), video_format="avi"),
            every_k=2,
        ),
        "sim_lsh_topk": lambda s, d: sim.lsh_cosine_topk(_emb(s, d)),
        "sim_lsh_multi_topk": lambda s, d: sim.lsh_multi_topk(_emb(s, d)),
        "sim_ivf_topk": lambda s, d: sim.ivf_topk(_emb(s, d)),
        # round 11: the batch-query dense ANN shape (VERDICT r10 item
        # 3) — an external (query_id, embedding) table served by ONE
        # persisted IVF index, rank window PARTITIONED by query_id;
        # query vectors drawn from the corpus at fixed ids so the
        # oracle expresses the same table (all ids exist at sf0.001)
        "sim_ivf_batch_topk": lambda s, d: sim.ivf_batch_topk(
            _emb(s, d),
            _emb(s, d)
            .where(F.col("vec_id").isin(*_BATCH_QUERY_IDS))
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5,
        ),
        # round 11: incremental IVF maintenance — index built on the
        # even-vec_id half, UPDATED with the odd half against the SAME
        # fixed centroid table (the full table's default vec_id<16
        # seed), then served via the index= injection seam; equal by
        # the fixed-centroid batch-twin contract to the full rebuild,
        # so sim_ivf_batch_topk's oracle IS this query's oracle (the
        # cross-engine proof of recompute equality, the
        # text_bm25_incremental precedent)
        # the r12 index-side localCheckpoint existed to stop Catalyst's
        # seed-range constraint (cent_id < 16 from _seed_centroids'
        # filter) propagating through the probes equi-join and folding
        # the assignment argmax into the 1-row centroid cross as a
        # conditioned BNLJ.  Optimization r13 (VERDICT item 3): the
        # constraint is erased AT ITS SOURCE — _seed_centroids is now a
        # collected 16-row LocalRelation (constraints survive
        # localCheckpoint; a literal relation has none) — so the
        # maintained index stays lazy through the index= seam (it has
        # exactly one consumer, the scored join) and the plan gate
        # shows no conditioned BNLJ and no duplicated fold.  The
        # centroid table is bound ONCE per build (one bounded collect),
        # shared by build, update and serve
        "sim_ivf_incremental_topk": lambda s, d: (
            lambda cents: sim.ivf_batch_topk(
                _emb(s, d),
                _emb(s, d)
                .where(F.col("vec_id").isin(*_BATCH_QUERY_IDS))
                .select(F.col("vec_id").alias("query_id"), "embedding"),
                # session-persisted like ivf_batch_topk's own built
                # index (the caller owns injected-index persistence):
                # lazy, so no build barrier, and the serve join reads
                # the cached posting lists (r13)
                index=sim.ivf_index_update(
                    sim.ivf_index(
                        _emb(s, d).where(F.col("vec_id") % 2 == 0),
                        centroids=cents,
                    ),
                    _emb(s, d).where(F.col("vec_id") % 2 == 1),
                    centroids=cents,
                    check_disjoint=False,
                ).transform(_tracked_persist),
                centroids=cents,
                k=5,
            )
        )(_seed_centroids(s, d)),
        # round 12: index-maintenance DELETE (takedown/GDPR erasure,
        # VERDICT r11 item 1) — every vec_id % 5 == 0 removed from the
        # full index by one broadcast anti-join (no rebuild, no
        # re-assignment), served against the SAME fixed centroids; the
        # oracle IS the rebuild-without-deleted-vectors SQL, so a
        # green row proves delete == rebuild cross-engine
        "sim_ivf_delete_topk": lambda s, d: (
            # same collected centroid table as the incremental query
            # above (r13): the index stays lazy, the constraint dies at
            # the 16-row LocalRelation
            lambda cents: sim.ivf_batch_topk(
                _emb(s, d),
                _emb(s, d)
                .where(F.col("vec_id").isin(*_BATCH_QUERY_IDS))
                .select(F.col("vec_id").alias("query_id"), "embedding"),
                index=sim.ivf_index_delete(
                    sim.ivf_index(_emb(s, d), centroids=cents),
                    _emb(s, d).where(F.col("vec_id") % 5 == 0).select("vec_id"),
                    check_present=False,
                ).transform(_tracked_persist),
                centroids=cents,
                k=5,
            )
        )(_seed_centroids(s, d)),
        # round 11: the brute-force truth baseline for the batch ladder
        "sim_cosine_batch_topk": lambda s, d: sim.cosine_batch_topk(
            _emb(s, d),
            _emb(s, d)
            .where(F.col("vec_id").isin(*_BATCH_QUERY_IDS))
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=5,
        ),
        "sim_embedding_dup_pairs": lambda s, d: sim.embedding_dup_pairs(
            _emb(s, d), tau=0.4
        ),
        "sim_semantic_dedup": lambda s, d: sim.semantic_dup_pairs(
            _emb(s, d), n_centroids=16, tau=0.4
        ),
        "sim_quantized_topk": lambda s, d: sim.quantized_topk(_emb(s, d)),
        # corpus curation (operators/curation.py): eval set = every 50th doc
        "cur_contamination": lambda s, d: cur.contamination(
            _docs(s, d).where(F.col("doc_id") % 50 != 0),
            _docs(s, d).where(F.col("doc_id") % 50 == 0),
        ),
        "cur_hash_split": lambda s, d: cur.hash_split(_docs(s, d))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        ),
        "cur_repetition": lambda s, d: cur.repetition_signals(_docs(s, d)),
        "cur_classifier": lambda s, d: cur.classifier_score(_docs(s, d)),
        "cur_stratified": lambda s, d: cur.stratified_sample(_docs(s, d), k=5),
        "cur_curate": lambda s, d: cur.curate(_docs(s, d))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        ),
        "dedup_purge": lambda s, d: cur.purge_near_dups(
            _docs(s, d), dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25)
        ).select("doc_id", "source"),
        # sequence packing: 8 shards so the sf0.01 oracle stays readable;
        # production uses n_shards >= cluster parallelism
        "cur_pack_stats": lambda s, d: cur.pack_stats(
            _docs(s, d), max_tokens=256, n_shards=8
        ),
        "cur_sample_mixture": lambda s, d: cur.sample_mixture(
            _docs(s, d),
            {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.0},
            default_rate=0.1,
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        ),
        # PII scrub over a deterministically PII-seeded text (the synthetic
        # corpus itself contains no emails/IPs, so both engines append the
        # same doc_id-derived contact line before redacting)
        "text_redact_pii": lambda s, d: tx.redact_pii(
            _docs(s, d).withColumn("text", _pii_seeded_text())
        ).select("doc_id", "clean_text", "n_emails", "n_ips", "n_long_ids"),
        "sim_random_projection": lambda s, d: sim.random_projection(
            _emb(s, d), k=16
        ),
        "text_ngram_topk": lambda s, d: tx.ngram_topk(_docs(s, d), n=3, k=20),
        "text_chunks": lambda s, d: tx.chunk_documents(
            _docs(s, d), chunk_tokens=32, overlap=8
        ),
        "text_vocab_ids": lambda s, d: tx.build_vocab(_docs(s, d), max_size=50),
        "text_tokenize_ids": lambda s, d: tx.tokenize_ids(
            _docs(s, d), tx.build_vocab(_docs(s, d), max_size=50)
        ),
        "graph_dup_stats": lambda s, d: gr.graph_stats(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25)
        ),
        # incremental ingest: even doc_ids play the historical corpus (its
        # band index), odd doc_ids the incoming batch
        "dedup_incremental": _q_dedup_incremental,
        # bloom-pruned semi join: result is EXACTLY the plain semi join
        # (false positives removed by the confirm join; the oracle replays
        # the plain join, and tests/test_bloom.py replays the bit table)
        "cur_funnel": lambda s, d: cur.curation_funnel(_docs(s, d)),
        # BM25 retrieval over a fixed bag-of-words query (terms chosen to
        # hit the synthetic vocabulary); sorted-fold scoring sum so the
        # float accumulation order matches the oracle bit-for-bit
        "text_bm25_topk": lambda s, d: tx.bm25_topk(
            _docs(s, d), ["the", "fast", "datos", "row"], k=10
        ),
        # round 10: the batch multi-query BM25 shape — one token scan
        # serves all queries, ranking window PARTITIONED by query_id
        # (no global window anywhere); query 0 = the single-query
        # registered terms, 1-2 exercise disjoint idf/df profiles
        "text_bm25_batch": lambda s, d: tx.bm25_batch_topk(
            _docs(s, d),
            s.createDataFrame(
                [
                    (0, "the"), (0, "fast"), (0, "datos"), (0, "row"),
                    (1, "spark"), (1, "join"), (1, "merge"),
                    (2, "slow"), (2, "batch"), (2, "vector"), (2, "scan"),
                ],
                "query_id long, word string",
            ),
            k=10,
        ),
        "text_source_overlap": lambda s, d: tx.source_vocab_overlap(
            _docs(s, d)
        ),
        # round 10: hybrid lexical+dense retrieval — BM25 and
        # embedding-cosine top-20 lists fused by reciprocal-rank fusion
        # (Cormack et al., SIGIR 2009); same query terms as
        # text_bm25_topk, dense query = vec_id 0 over doc-aligned ids
        "text_hybrid_rrf": lambda s, d: rtv.hybrid_bm25_cosine_topk(
            _docs(s, d),
            _emb(s, d),
            ["the", "fast", "datos", "row"],
            query_vec_id=0,
            k=10,
            depth=20,
        ),
        # round 11: incremental BM25 index maintenance — build on the
        # even-doc_id half, UPDATE with the odd half (only the batch is
        # tokenized), serve the standard query terms; the oracle is the
        # FULL-corpus recompute, so a green row proves the incremental
        # path equals the rebuild cross-engine
        "text_bm25_incremental": lambda s, d: rtv.bm25_topk_from_index(
            rtv.bm25_index_update(
                rtv.bm25_build_index(
                    _docs(s, d).where(F.col("doc_id") % 2 == 0)
                ),
                _docs(s, d).where(F.col("doc_id") % 2 == 1),
                check_disjoint=False,
            ),
            ["the", "fast", "datos", "row"],
            k=10,
        ),
        # round 12: BM25 index DELETE (takedown/GDPR erasure, VERDICT
        # r11 item 1) — every doc_id % 7 == 0 removed from the full
        # index with NO re-tokenization (df decrements derive from the
        # index's own postings), then served; the oracle IS the
        # rebuild-on-remaining-docs recompute, so a green row proves
        # delete == rebuild cross-engine
        "text_bm25_delete": lambda s, d: rtv.bm25_topk_from_index(
            rtv.bm25_index_delete(
                rtv.bm25_build_index(_docs(s, d)),
                _docs(s, d)
                .where(F.col("doc_id") % 7 == 0)
                .select("doc_id"),
                check_present=False,
            ),
            ["the", "fast", "datos", "row"],
            k=10,
        ),
        # round 11: exact phrase search over the positional inverted
        # index (the Lucene match_phrase shape) — mixed 2/3-word
        # phrases incl. an overlapping self-phrase and one that never
        # occurs (the absent case must yield zero rows for that id)
        "text_phrase_search": lambda s, d: rtv.phrase_search(
            _docs(s, d), list(_PHRASES)
        ),
        # round 12: proximity phrase search (the Lucene match_phrase
        # slop shape, VERDICT r11 item 3) — same phrase set, slop=1,
        # greedy earliest-successor chain (exact for ordered-window
        # semantics; slop=0 degenerates to text_phrase_search,
        # pytest-pinned)
        "text_phrase_slop": lambda s, d: rtv.phrase_search_slop(
            _docs(s, d), list(_PHRASES), slop=1
        ),
        # round 11: interpolated Kneser-Ney trigram perplexity — the
        # published CCNet quality filter (Wenzek et al. 2020) with the
        # corpus as its own training set (the score_docs= seam covers
        # the train-on-wiki/score-crawl production shape; pinned by
        # pytest against an independent hand-worked KN implementation)
        "text_kn_score": lambda s, d: tx.kneser_ney_score(_docs(s, d)),
        # round 11: the CCNet head/middle/tail tertile split on KN
        # perplexity (Wenzek et al. 2020 section 4.3) — exact global
        # percentile thresholds, 1-row broadcast cross
        "text_kn_buckets": lambda s, d: tx.kn_perplexity_buckets(
            _docs(s, d)
        ),
        # round 12: MODIFIED Kneser-Ney (Chen & Goodman 1999 §2.7 —
        # what KenLM ships): three count-estimated discounts per
        # order from the n1..n4 count-of-counts, bucket-weighted
        # back-off mass; the last gap to the published CCNet filter
        # (VERDICT r11 item 4)
        "text_kn_modified": lambda s, d: tx.kneser_ney_score(
            _docs(s, d), discount="estimate"
        ),
        # substring-level dedup signal: maximal duplicated 5-gram spans
        # and the per-doc coverage summary over them
        "dedup_dup_spans": lambda s, d: dd.duplicated_spans(_docs(s, d), n=5),
        "dedup_span_stats": lambda s, d: dd.span_dedup_stats(_docs(s, d), n=5),
        # global token-balanced shards via the two-phase distributed
        # prefix sum (n_buckets=16 keeps the sf0.01 oracle readable;
        # production sets n_buckets >= cluster parallelism)
        "cur_token_shards": lambda s, d: cur.token_shard_stats(
            _docs(s, d), shard_tokens=2048, n_buckets=16
        ),
        "cur_weighted_sample": lambda s, d: cur.weighted_sample(
            _docs(s, d), k=12
        ),
        # n-gram novelty vs the earlier corpus (first-occurrence doc)
        "text_novelty": lambda s, d: tx.ngram_novelty(_docs(s, d), n=3),
        # actual vs target token mixture: deterministic non-uniform target
        # over the 20 synthetic sources, weight proportional to i+1
        "cur_mixture_kl": lambda s, d: cur.mixture_kl(
            _docs(s, d), {f"src{i}": float(i + 1) for i in range(20)}
        ),
        "dedup_rate_by_source": lambda s, d: dd.dedup_rate_by_source(
            _docs(s, d)
        ),
        # span-trim transform (Lee et al. trim policy over dedup_dup_spans)
        "dedup_trim_spans": lambda s, d: dd.trim_duplicated_spans(
            _docs(s, d), n=5
        ),
        "text_heavy_hitters": lambda s, d: tx.heavy_hitters(
            _docs(s, d), theta=0.002
        ),
        "sim_dimension_stats": lambda s, d: sim.dimension_stats(_emb(s, d)),
        "lineitem_correlations": lambda s, d: au.correlation_matrix(
            load_table(s, d, "lineitem"),
            ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        ),
        "cur_quality_calibrated": lambda s, d: cur.calibrated_quality_filter(
            _docs(s, d), keep_fraction=0.5
        ),
        # same numbers via the bounded-state distributed exact quantile
        # (audit.exact_quantile histogram narrowing) instead of the
        # single-buffer percentile aggregate — the 1e11-doc path
        "cur_quality_exact_pctile": lambda s, d: cur.calibrated_quality_filter(
            _docs(s, d), keep_fraction=0.5, method="histogram"
        ),
        "lineitem_price_histogram": lambda s, d: au.value_histogram(
            load_table(s, d, "lineitem"), "l_extendedprice", n_bins=20
        ),
        # fan_out="auto" (optimization r12): the md5 probe chain is
        # hashing-heavy compute per row, and a row-group-deficient export
        # pins it to one core — the auto gate inserts the fan-out shuffle
        # only on such inputs (never at production row-group counts);
        # measured 2.8s -> 1.9s steady-state interleaved at sf0.1
        "lineitem_bloom_semi": lambda s, d: bl.bloom_semi_join(
            load_table(s, d, "lineitem", fan_out="auto"),
            load_table(s, d, "orders").where(F.col("o_totalprice") >= 400000),
            on="l_orderkey",
            key_col="o_orderkey",
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("double")).alias("sum_qty"),
        ),
        # distribution drift between two snapshots (even vs odd event ids
        # stand in for last-month vs this-month partitions)
        "events_psi_drift": lambda s, d: au.psi_drift(
            load_table(s, d, "events").where(F.col("event_id") % 2 == 0),
            load_table(s, d, "events").where(F.col("event_id") % 2 == 1),
            "value",
            breaks=[20.0, 40.0, 60.0, 80.0, 120.0, 200.0, 300.0],
        ),
        "customer_k_anonymity": lambda s, d: au.k_anonymity(
            load_table(s, d, "customer"), ["c_mktsegment", "c_nationkey"], k=8
        ),
        "text_zipf_fit": lambda s, d: tx.zipf_fit(_docs(s, d), top_v=100),
        # weighted sparse near-dup: tf-idf cosine over 3-gram shingles
        "dedup_tfidf_cosine": lambda s, d: dd.tfidf_cosine_pairs(
            _docs(s, d), n=3, threshold=0.2, max_df=200
        ),
        # sorted-neighborhood blocking (SNM) candidates, window=2
        "dedup_sorted_neighborhood": lambda s, d: dd.sorted_neighborhood_pairs(
            _docs(s, d), window=2
        ),
        # rolling 7-day distinct active users (contribution expansion)
        "events_rolling_dau": lambda s, d: ev.rolling_distinct_users(
            load_table(s, d, "events"), window_days=7
        ),
        # event-type co-occurrence + lift over the user dimension
        "events_cooccurrence": lambda s, d: ev.event_type_cooccurrence(
            load_table(s, d, "events")
        ),
        # per-source token-distribution entropy (two-level exact fold)
        "text_source_entropy": lambda s, d: tx.source_entropy(
            _docs(s, d), n_buckets=256
        ),
        # fixed-round PageRank over the LSH dup graph (iterative algorithm
        # with an EXACT oracle: neighbor-order-folded float sums)
        "graph_pagerank": lambda s, d: gr.pagerank(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25), n_iter=5
        ),
        # --- round 4c ---
        # corpus-trained bigram LM score (perplexity proxy)
        "text_lm_score": lambda s, d: tx.lm_bigram_score(_docs(s, d)),
        # asymmetric containment verification over LSH candidates
        "dedup_containment": lambda s, d: dd.containment_pairs(
            _docs(s, d), est_threshold=0.25, threshold=0.5
        ),
        # cross-table financial reconciliation (orders vs recomputed
        # lineitem totals; the synthetic data does NOT reconcile — the
        # audit's job is to report exactly that, deterministically)
        "audit_orders_reconcile": lambda s, d: au.reconcile_sum(
            load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
            parent_key="o_orderkey",
            child_key="l_orderkey",
            parent_total="o_totalprice",
            child_amount=F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax")),
            child_order="l_linenumber",
            group_col="o_orderstatus",
        ),
        # robust per-type outlier audit (median + MAD, 3sigma-equivalent)
        "events_mad_outliers": lambda s, d: au.mad_outliers(
            load_table(s, d, "events"), "value", ["event_type"]
        ),
        # skew.salted_join driven end-to-end: result is row-identical to
        # the plain join (the oracle IS the plain join), aggregated to a
        # deterministic per-type summary (max-based threshold — no
        # engine-order-dependent float sums)
        "events_salted_join": _q_salted_join,
        # LSH candidate-generator recall/precision vs exact-Jaccard truth
        "dedup_lsh_recall": lambda s, d: dd.lsh_recall_eval(
            _docs(s, d), est_threshold=0.25, threshold=0.5, max_df=100
        ),
        # ANN recall@k harness: LSH bucket path vs brute-force truth
        "sim_ann_recall": lambda s, d: sim.ann_recall_eval(_emb(s, d)),
        # skew.two_phase_agg driven end-to-end (order-independent
        # aggregates only: max/min/count — the mergeable set)
        "events_two_phase_agg": lambda s, d: sk.two_phase_agg(
            load_table(s, d, "events").select(
                "event_type", "value", "event_id", "user_id"
            ),
            ["event_type"],
            {"value": "max", "event_id": "count", "user_id": "min"},
        ),
        # first-order Markov transition matrix (exact integer counts,
        # row-normalized probabilities = one division)
        "events_markov": lambda s, d: ev.markov_transitions(
            load_table(s, d, "events")
        ),
        # Benford leading-digit audit (exact integer-cents digits)
        "lineitem_benford": lambda s, d: au.benford_profile(
            load_table(s, d, "lineitem"), "l_extendedprice"
        ),
        # RFM customer segmentation (fold-exact monetary, quartile scores)
        "customer_rfm": lambda s, d: rfm.rfm_scores(load_table(s, d, "orders")),
        # IVF/SemDeDup cluster-quality monitoring table
        "sim_cluster_quality": lambda s, d: sim.cluster_quality(_emb(s, d)),
        # grouped bounded-state exact quantile (histogram narrowing, the
        # 1e11-row path for per-group percentiles) vs quantile_cont
        "events_value_p90_hist": lambda s, d: au.exact_quantile_by_group(
            load_table(s, d, "events"), "value", 0.9, ["event_type"]
        ).select(
            "event_type", F.round("quantile", 6).alias("p90")
        ),
        # TPC-H Q2-style argmin-per-group star join (part/supplier/nation)
        "part_cheapest_supplier": _q_cheapest_supplier,
        # DAU/MAU stickiness (two contribution-expansion windows)
        "events_stickiness": _q_stickiness,
        # TPC-H Q5-style co-nation star join (customer nation == supplier
        # nation), exact DECIMAL revenue
        "star_local_supplier_volume": _q_local_supplier_volume,
        # round 5: the published Gopher/MassiveText rule battery
        "text_gopher_rules": lambda s, d: tx.gopher_rules(_docs(s, d)),
        # round 5: DSIR importance weights — raw corpus scored against the
        # every-50th-doc target set (same split as cur_contamination)
        "cur_dsir_weights": lambda s, d: cur.dsir_weights(
            _docs(s, d).where(F.col("doc_id") % 50 != 0),
            _docs(s, d).where(F.col("doc_id") % 50 == 0),
        ),
        # round 5: Matryoshka prefix-dim recall harness over the ANN stack
        "sim_matryoshka_recall": lambda s, d: sim.matryoshka_recall(_emb(s, d)),
        # round 5: product-quantization ADC top-k (Jégou et al. 2011) —
        # the memory-bound ANN path: 4-bit codes + per-query LUT join
        "sim_pq_topk": lambda s, d: sim.pq_topk(_emb(s, d)),
        # round 5: PQ recall@k through the shared harness — what the 64x
        # compression costs in recall, measured before deploying it
        "sim_pq_recall": lambda s, d: sim.ann_recall_eval(
            _emb(s, d), approx=sim.pq_topk(_emb(s, d)).select("q_id", "vec_id")
        ),
        # round 5: IVF-PQ — the canonical billion-scale serving composition
        # (coarse cells bound candidates, ADC codes bound per-candidate reads)
        "sim_ivf_pq_topk": lambda s, d: sim.ivf_pq_topk(_emb(s, d)),
        # round 6 (VERDICT r5 item 2): PQ ADC through codebooks TRAINED on
        # the corpus — fixed-round Lloyd's per subspace on a deterministic
        # sample, exactly oracle-checkable (per-round rounding discipline)
        "sim_pq_trained_topk": lambda s, d: sim.pq_topk_with_codebooks(
            _emb(s, d), sim.pq_train_codebooks(_emb(s, d))
        ),
        # round 6: recall@k of the TRAINED PQ path through the shared
        # harness — the deploy-grade number BASELINE.md records next to
        # the untrained 0.02 so the harness tells the full story
        "sim_pq_trained_recall": lambda s, d: sim.ann_recall_eval(
            _emb(s, d),
            approx=sim.pq_topk_with_codebooks(
                _emb(s, d), sim.pq_train_codebooks(_emb(s, d))
            ).select("q_id", "vec_id"),
        ),
        # round 6: TRAINED IVF — full-vector fixed-round Lloyd's centroids
        # through the unchanged ivf_topk chain (the exactly-checkable
        # counterpart to the MLlib kmeans_centroids pytest path)
        "sim_ivf_trained_topk": lambda s, d: sim.ivf_topk(
            _emb(s, d), centroids=sim.kmeans_train_fixed(_emb(s, d))
        ),
        # round 6: fully TRAINED IVF-PQ — learned coarse cells AND learned
        # codebooks in one composition (the FAISS deploy shape, every
        # stage exact-oracle)
        "sim_ivf_pq_trained_topk": lambda s, d: sim.ivf_pq_topk_trained(
            _emb(s, d)
        ),
        # round 12: RESIDUAL IVF-PQ (VERDICT r11 item 2) — codebooks
        # trained on vec − coarse_centroid, scored q·c (exact) +
        # ADC-residual; the FAISS IVFPQ encoding, every stage exact
        # against the composed unrolled-Lloyd twin
        "sim_ivf_pq_residual_topk": lambda s, d: sim.ivf_pq_residual_topk(
            _emb(s, d)
        ),
        # round 6: recall@k of the trained-IVF path through the shared
        # harness — completes the symmetry (every trained ANN path has a
        # recall-graded registered entry)
        "sim_ivf_trained_recall": lambda s, d: sim.ann_recall_eval(
            _emb(s, d),
            approx=sim.ivf_topk(
                _emb(s, d), centroids=sim.kmeans_train_fixed(_emb(s, d))
            ).select("q_id", "vec_id"),
        ),
        # round 5: fuzzy (MinHash-LSH) decontamination — paraphrase-robust
        # complement to cur_contamination, same every-50th-doc eval split
        "cur_fuzzy_contamination": lambda s, d: cur.fuzzy_contamination(
            _docs(s, d).where(F.col("doc_id") % 50 != 0),
            _docs(s, d).where(F.col("doc_id") % 50 == 0),
            est_threshold=0.25,
        ),
        # round 5: the DSIR resampling step (log-domain Gumbel-max E-S
        # sample proportional to the importance weight)
        "cur_dsir_resample": lambda s, d: cur.dsir_resample(
            _docs(s, d).where(F.col("doc_id") % 50 != 0),
            _docs(s, d).where(F.col("doc_id") % 50 == 0),
            k=20,
        ),
        # round 5: per-rule kill counts over the Gopher battery — the
        # tuning table showing which rule costs which corpus share (ONE
        # map-side-combinable aggregate over the zero-shuffle rule scan)
        "text_gopher_funnel": lambda s, d: tx.gopher_rules(_docs(s, d)).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[
                F.sum(1 - F.col(r)).cast("long").alias(f"kill_{r[2:]}")
                for r in (
                    "r_word_count", "r_mean_word_len", "r_symbol",
                    "r_bullet", "r_ellipsis", "r_alpha_words", "r_stopwords",
                )
            ],
            F.sum("keep").cast("long").alias("n_keep"),
        ),
        # round 5: label-aware hard-negative mining (contrastive batches)
        "sim_hard_negatives": lambda s, d: sim.hard_negatives(_emb(s, d)),
        # round 5: per-label kNN label-consistency audit
        "sim_knn_label_consistency": lambda s, d: sim.knn_label_consistency(
            _emb(s, d)
        ),
        # round 5: temperature (alpha) mixture weights over source token
        # mass — the XLM-R/mT5 sampling-recipe planning step
        "cur_temperature_mixture": lambda s, d: cur.temperature_mixture(
            _docs(s, d)
        ),
        # round 5: inter-source duplication matrix over verified pairs
        "dedup_cross_source": lambda s, d: dd.cross_source_matrix(_docs(s, d)),
        # round 5: per-label centroid-distance mislabel audit (exact
        # two-level-fold centroids, broadcast to the scoring scan)
        "sim_label_outliers": lambda s, d: sim.label_centroid_outliers(
            _emb(s, d)
        ),
        # round 5: angular-cell stratified diversity sample (one rep per
        # LSH cell — the one-scan stand-in for k-center selection)
        "sim_lsh_sample": lambda s, d: sim.lsh_stratified_sample(_emb(s, d)),
        # round 5: Church-Hanks PMI collocations (vocabulary induction)
        "text_pmi_collocations": lambda s, d: tx.pmi_collocations(_docs(s, d)),
        # round 5: two-proportion z-test per event type over a hash-split
        # user base (the experiment readout / A/A sanity check)
        "events_ab_test": lambda s, d: ev.ab_test(
            load_table(s, d, "events")
        ),
        # round 5: exact-integer per-part OLS price slope, top movers
        "lineitem_price_trend": lambda s, d: au.price_trend(
            load_table(s, d, "lineitem")
        ),
        # round 5: bloom-prefiltered exact decontamination (the 100 TB
        # form: fixed-size bit table prunes the corpus shingle stream,
        # exact verify join removes bloom false positives) — same
        # every-50th-doc eval split as cur_contamination
        "cur_bloom_decontaminate": lambda s, d: cur.bloom_decontaminate(
            _docs(s, d).where(F.col("doc_id") % 50 != 0),
            _docs(s, d).where(F.col("doc_id") % 50 == 0),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
        ),
        # round 5: TextRank keyword centrality (pagerank over the word
        # co-occurrence graph — composes the exact-oracle iterative core)
        "text_textrank": lambda s, d: tx.textrank_keywords(_docs(s, d)),
        # round 5: market-basket brand lift (order-level co-occurrence)
        "lineitem_basket_lift": lambda s, d: af.basket_lift(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        # round 5: dominant principal component by fixed-round power
        # iteration (the anisotropy audit — iterative linear algebra with
        # an exact unrolled oracle, the pagerank discipline)
        "sim_dominant_pc": lambda s, d: sim.dominant_pc(_emb(s, d)),
        # round 5: first-touch conversion attribution
        "events_attribution": lambda s, d: ev.first_touch_attribution(
            load_table(s, d, "events")
        ),
        # round 5: per-type inter-arrival cadence profile
        "events_gap_profile": lambda s, d: ev.inter_event_gaps(
            load_table(s, d, "events")
        ),
        # round 5: top-PC variance share (the one-number anisotropy gate)
        "sim_anisotropy": lambda s, d: sim.anisotropy(_emb(s, d)),
        # round 5: quality-aware canonical selection per dup component
        "dedup_canonical_quality": lambda s, d: dd.canonical_by_quality(
            _docs(s, d), est_threshold=0.25
        ),
        # round 5: signup->purchase activation latency summary
        "events_time_to_convert": lambda s, d: ev.time_to_convert(
            load_table(s, d, "events")
        ),
        # round 5: Wilson-lower-bound return-rate ranking per brand
        "lineitem_return_wilson": lambda s, d: au.return_rates_wilson(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        # round 5: revenue share by nation + HHI concentration index
        "orders_revenue_hhi": lambda s, d: au.revenue_concentration(
            load_table(s, d, "orders"),
            load_table(s, d, "customer"),
            load_table(s, d, "nation"),
        ),
        # round 5: mixture weights over POST-dedup effective token mass
        "cur_dedup_mixture": lambda s, d: cur.dedup_aware_mixture(
            _docs(s, d)
        ),
        # round 5: batch sessionization summary (30-min gap rule)
        "events_sessions": lambda s, d: ev.session_stats(
            load_table(s, d, "events")
        ),
        # round 5: dup-graph degree power-law (Hill/CSN alpha) — the
        # hub-risk audit for the pair-expansion escape hatches
        "graph_degree_powerlaw": lambda s, d: gr.degree_powerlaw(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25)
        ),
        # round 5: all-but-the-top contrast — does removing the dominant
        # PC change nearest-neighbour cosines? (makes sim_dominant_pc
        # actionable)
        "sim_abtt_contrast": lambda s, d: sim.abtt_contrast(_emb(s, d)),
        # round 5: the IVF n_probe tuning curve (recall@k per setting)
        "sim_ivf_recall_curve": lambda s, d: sim.ivf_recall_curve(
            _emb(s, d)
        ),
        # round 5: monthly revenue + MoM growth (DECIMAL-exact sums)
        "orders_monthly_growth": lambda s, d: au.monthly_growth(
            load_table(s, d, "orders")
        ),
        # round 5: single-sourced-parts procurement risk per brand
        "lineitem_supply_risk": lambda s, d: au.single_source_risk(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        # round 5: user-concentration audit (top-k share of activity)
        "events_power_users": lambda s, d: ev.power_users(
            load_table(s, d, "events")
        ),
        # round 5: TPC-H Q13-shape order-count distribution (left-outer
        # with zero groups)
        "customer_order_dist": _q_order_count_dist,
        # round 5: TPC-H Q17-shape micro-quantity revenue (decorrelated
        # scalar subquery, exact-integer threshold)
        "lineitem_small_qty_revenue": _q_small_qty_revenue,
        # round 5: TPC-H Q22-shape dormant-capital audit (anti-join +
        # scalar-subquery threshold)
        "customer_dormant_balance": _q_dormant_balance,
        # round 5: source-holdout split summary (group-aware assignment)
        "cur_group_split": lambda s, d: cur.group_split(_docs(s, d))
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        ),
        # round 5: near-dup leakage across the doc-level hash split —
        # the eval-contamination audit group_split exists to fix
        "cur_split_leakage": lambda s, d: cur.split_leakage(
            cur.hash_split(_docs(s, d).select("doc_id")),
            dd.verified_pairs(_docs(s, d)),
        ),
        # round 5: TPC-H Q21-shape sole-late-supplier count (correlated
        # EXISTS/NOT EXISTS pair, decorrelated to one per-order aggregate)
        "supplier_sole_late": _q_supplier_sole_late,
        # round 5: TPC-H Q16-shape distinct-supplier count per part class
        # with a NOT-IN supplier blocklist
        "part_supplier_cnt": _q_part_supplier_cnt,
        # round 5: fixed-round k-core peeling of the LSH dup graph
        # (template-clique detector; unrolled-round exact oracle)
        "graph_kcore": lambda s, d: gr.kcore(
            dd.minhash_lsh_pairs(_docs(s, d), est_threshold=0.25),
            k=2,
            n_rounds=4,
        ),
        # round 5: TPC-H Q8-shape national market share (6-table star,
        # conditional-numerator share per year)
        "star_market_share": _q_market_share,
        # round 5: TPC-H Q4-shape order-priority lateness check
        # (EXISTS -> distinct semi decorrelation)
        "orders_priority_wait": _q_priority_wait,
        # round 5: TPC-H Q11-shape supplier concentration cut (HAVING
        # vs a scalar-subquery threshold, scale-free mean-relative form)
        "supplier_value_share": _q_value_share,
        # round 5: TPC-H Q18-shape large-volume orders (HAVING over a
        # fact groupBy, rejoined for reporting columns)
        "orders_large_volume": _q_large_volume_orders,
        # round 5: TPC-H Q19-shape disjunctive bracket revenue (OR of
        # brand/size/quantity brackets over an equi join)
        "lineitem_bracket_revenue": _q_bracket_revenue,
        # round 5: chi-square test of independence (categorical
        # association audit; dof=2 closed-form p over the 3x2 fixture)
        "lineitem_chi2_assoc": lambda s, d: au.chi2_independence(
            load_table(s, d, "lineitem"), "l_returnflag", "l_linestatus"
        ),
        # round 5: TPC-H Q15-shape top supplier (equality to a scalar
        # MAX subquery over exact decimals)
        "supplier_top_revenue": _q_top_supplier,
        # round 5: TPC-H Q7-shape bilateral nation volume (symmetric
        # cross-dimension disjunction, per-side dim pruning)
        "star_nation_volume": _q_nation_volume,
        # round 5: TPC-H Q6-shape forecast revenue (pure scan-stage
        # predicates, 1-row exact-decimal total)
        "lineitem_forecast_revenue": _q_forecast_revenue,
        # round 5: TPC-H Q14-shape promo revenue share per month
        "lineitem_promo_share": _q_promo_share,
        # round 5: TPC-H Q9-shape margin-vs-retail rollup by supplier
        # nation and year (two-fact-table amount arithmetic)
        "star_retail_margin": _q_retail_margin,
        # round 5: TPC-H Q10-shape returned-item top customers
        # (filter-fact -> customer rollup -> TakeOrdered top-20)
        "customer_returned_revenue": _q_returned_revenue,
    }


def _pii_seeded_text():
    return F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ref "),
        (F.lit(1_000_000) + F.col("doc_id") * 37).cast("string"),
    )


# shared decode CTE for the multimodal oracles: doc_id%3 → kind, md5-derived
# fake dimensions (exact twin of multimodal.fake_decode / attach_payload;
# text is ASCII in this corpus so byte ops == char ops)
_DEC_CTE = """
dec AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         text,
         16 + CAST('0x' || substr(md5(text), 1, 6) AS BIGINT) % 2048 AS width,
         16 + CAST('0x' || substr(md5(text), 7, 6) AS BIGINT) % 2048 AS height,
         1 + CAST('0x' || substr(md5(text), 13, 2) AS BIGINT) % 4 AS n_channels,
         CAST(length(text) AS BIGINT) AS n_bytes,
         CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS checksum
  FROM documents
)
"""


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def extension_oracles() -> dict[str, str]:
    langs_scores = ",\n         ".join(
        f"CAST(len(list_filter(string_split(text,' '), w -> w IN "
        f"({', '.join(repr(m) for m in markers)}))) AS BIGINT) AS score_{lang}"
        for lang, markers in tx.LANG_MARKERS.items()
    )
    pred_chain = " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in tx.LANG_MARKERS
    )
    # CTE block shared by the cur_curate and cur_funnel oracles: normalized
    # exact-dedup survivors, quality, repetition, language prediction
    curate_ctes = f"""norm AS (
  SELECT doc_id, lang, source,
         {_MD5H.format(x="regexp_replace(trim(lower(text)), ' +', ' ', 'g')")} AS nh
  FROM documents
),
keep AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY nh ORDER BY doc_id) AS rn
    FROM norm
  ) WHERE rn = 1
),
qual AS (
  SELECT doc_id,
         ROUND(0.4 * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
               + 0.3 * LEAST(1.0, 5.0 * (CAST(len(list_filter(string_split(text, ' '), w -> w IN ({', '.join(repr(w) for w in tx.STOPWORDS)}))) AS DOUBLE) / len(string_split(text, ' '))))
               + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text)), 6) AS quality
  FROM documents
),
{_TOK_CTE.strip().lstrip()},
wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY doc_id, word),
rep AS (
  SELECT doc_id, ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_word_frac
  FROM wc GROUP BY doc_id
),
scores AS (
  SELECT doc_id,
         {langs_scores}
  FROM documents
),
best AS (
  SELECT *, GREATEST(score_en, score_fr, score_es, score_de) AS best FROM scores
),
pred AS (
  SELECT doc_id,
         CASE WHEN best = 0 THEN 'unknown' {pred_chain} ELSE 'unknown' END AS pred_lang
  FROM best
)"""
    o = {
        "text_stats": """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
       ROUND(CAST(list_aggregate(list_transform(string_split(text, ' '), x -> length(x)), 'sum') AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS avg_token_len,
       ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS type_token_ratio
FROM documents
""",
        "text_token_count": f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))) AS BIGINT) AS n_uniq_bpe_tokens
FROM documents
""",
        "text_lang_id": f"""
WITH scores AS (
  SELECT doc_id, lang,
         {langs_scores}
  FROM documents
),
best AS (
  SELECT *, GREATEST(score_en, score_fr, score_es, score_de) AS best FROM scores
),
pred AS (
  SELECT lang,
         CASE WHEN best = 0 THEN 'unknown' {pred_chain} ELSE 'unknown' END AS pred_lang
  FROM best
)
SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, pred_lang
""",
        "text_bpe_merges": _bpe_merges_sql(8),
        "text_bpe_segments": _bpe_merges_sql(8, segments=True),
        "text_bpe_encode": _bpe_merges_sql(8, encode=True),
        "text_maxmatch_segments": _maxmatch_sql(24, 4),
        "text_unigram_segments": _unigram_sql(24, 4, 2, 16),
        # unigram encode: the segmentation twin wrapped whole as a
        # nested CTE, then the id assignment + positional token carry
        # (the text_bpe_encode / text_tokenize_ids oracle conventions;
        # empty tokens and filtered words drop out of the inner join)
        "text_unigram_encode": f"""
WITH useg AS MATERIALIZED (
{_unigram_sql(24, 4, 2, 16)}
),
pc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS piece_count
       FROM useg GROUP BY piece),
ids AS (
  SELECT piece,
         CAST(ROW_NUMBER() OVER (ORDER BY piece_count DESC, piece ASC) - 1
           AS BIGINT) AS piece_id
  FROM pc
),
tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents WHERE doc_id % 10 = 0
)
SELECT t.doc_id, CAST(t.pos - 1 AS BIGINT) AS pos,
       u.pos AS piece_pos, i.piece_id, u.piece
FROM tok t JOIN useg u USING (word) JOIN ids i ON i.piece = u.piece
""",
        "text_fingerprints": f"""
WITH pos AS (
  SELECT doc_id, text, length(text) - 7 AS n_grams,
         unnest(range(1, length(text) - 6)) AS pos
  FROM documents WHERE length(text) >= 8
),
grams AS (
  SELECT doc_id, pos, n_grams, {_MD5H.format(x="substr(text, CAST(pos AS INT), 8)")} % {PRIME_P} AS h
  FROM pos
),
winnow AS (
  SELECT doc_id, pos, n_grams,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM winnow
  WHERE pos <= GREATEST(n_grams - 3, 1)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(MIN(fp) AS BIGINT) AS min_fp,
       CAST(SUM(fp) % {PRIME_P} AS BIGINT) AS fp_checksum
FROM fps GROUP BY doc_id
""",
        "text_quality": f"""
WITH base AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), w -> w IN ({', '.join(repr(w) for w in tx.STOPWORDS)}))) AS stop_cnt,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS punct
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       ROUND(CAST(stop_cnt AS DOUBLE) / n, 6) AS stopword_ratio,
       ROUND(CAST(alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
       ROUND(CAST(digit AS DOUBLE) / n_chars, 6) AS digit_ratio,
       ROUND(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       ROUND(0.4 * LEAST(1.0, CAST(n AS DOUBLE) / 50.0)
             + 0.3 * LEAST(1.0, 5.0 * (CAST(stop_cnt AS DOUBLE) / n))
             + 0.3 * (1.0 - CAST(punct AS DOUBLE) / n_chars), 6) AS quality
FROM base
""",
        "sim_ivf_topk": f"""
WITH {_VEC_CTE},
cents AS (SELECT vec_id AS cent_id, vec AS c_vec, nrm AS c_nrm FROM nv WHERE vec_id < 16),
asg AS (
  SELECT vec_id, vec, nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
pr AS (
  SELECT q_id, q_vec, q_nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT q_id, q_vec, q_nrm, cent_id FROM pr WHERE rn <= 4),
s AS (
  SELECT q_id, idx.vec_id,
         ROUND(list_dot_product(idx.vec, q_vec) / (idx.nrm * q_nrm), 6) AS cosine
  FROM idx JOIN probes USING (cent_id)
  WHERE idx.vec_id != q_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
SELECT q_id, vec_id, cosine FROM r WHERE rn <= 5
""",
        # round 11: batch dense ANN — same index/probe/scoring CTEs as
        # sim_ivf_topk, query set = the fixed corpus-drawn id list, NO
        # self-exclusion (queries are external vectors by contract)
        "sim_ivf_batch_topk": f"""
WITH {_VEC_CTE},
cents AS (SELECT vec_id AS cent_id, vec AS c_vec, nrm AS c_nrm FROM nv WHERE vec_id < 16),
asg AS (
  SELECT vec_id, vec, nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS query_id, vec AS q_vec, nrm AS q_nrm FROM nv
      WHERE vec_id IN {_BATCH_QUERY_IDS}),
pr AS (
  SELECT query_id, q_vec, q_nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT query_id, q_vec, q_nrm, cent_id FROM pr WHERE rn <= 4),
s AS (
  SELECT query_id, idx.vec_id,
         ROUND(list_dot_product(idx.vec, q_vec) / (idx.nrm * q_nrm), 6) AS cosine
  FROM idx JOIN probes USING (cent_id)
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
SELECT query_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 5
""",
        "sim_cosine_batch_topk": f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS query_id, vec AS q_vec, nrm AS q_nrm FROM nv
      WHERE vec_id IN {_BATCH_QUERY_IDS}),
s AS (
  SELECT query_id, nv.vec_id,
         ROUND(list_dot_product(nv.vec, q_vec) / (nv.nrm * q_nrm), 6) AS cosine
  FROM nv, q
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
SELECT query_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM r WHERE rn <= 5
""",
        "text_vocab_topk": f"""
WITH {_TOK_CTE},
counts AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS term_count,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
  FROM tok GROUP BY word
),
ranked AS (
  SELECT word, term_count, doc_freq,
         ROW_NUMBER() OVER (ORDER BY doc_freq DESC, term_count DESC, word ASC) AS rank
  FROM counts
)
SELECT word, term_count, doc_freq, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 20
""",
        "text_tfidf": f"""
WITH {_TOK_CTE},
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, word
),
df AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         ROUND(tf.tf * LN(nd.n_docs / df.df), 6) AS tfidf
  FROM tf JOIN df USING (word), nd
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rn
  FROM scored
)
SELECT doc_id, word, tf, df, tfidf FROM ranked WHERE rn <= 3
""",
        "dedup_exact": f"""
SELECT {_MD5H.format(x="regexp_replace(trim(lower(text)), ' +', ' ', 'g')")} AS text_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM documents
GROUP BY 1
""",
        "dedup_ngram_jaccard": f"""
WITH {_SHINGLE_CTE},
df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle) WHERE df <= 100),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes x ON inter.doc_a = x.doc_id
JOIN sizes y ON inter.doc_b = y.doc_id
WHERE ROUND(CAST(n_inter AS DOUBLE) / (x.n_sh + y.n_sh - n_inter), 6) >= 0.5
""",
        "dedup_minhash_signatures": f"""
WITH {_SIG_CTE}
SELECT doc_id, i, CAST(minh AS BIGINT) AS minh FROM sig
""",
        "dedup_minhash_lsh": f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
)
SELECT * FROM est WHERE est_jaccard >= 0.25
""",
        "dedup_verified": f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
keep AS (SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.25),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT k.doc_a, k.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM keep k
  JOIN sh a ON a.doc_id = k.doc_a
  JOIN sh b ON b.doc_id = k.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT k.doc_a, k.doc_b, k.est_jaccard,
         ROUND(CAST(COALESCE(n_inter, 0) AS DOUBLE)
               / (x.n_sh + y.n_sh - COALESCE(n_inter, 0)), 6) AS jaccard
  FROM keep k
  LEFT JOIN inter ON k.doc_a = inter.doc_a AND k.doc_b = inter.doc_b
  JOIN sizes x ON k.doc_a = x.doc_id
  JOIN sizes y ON k.doc_b = y.doc_id
)
SELECT * FROM scored WHERE jaccard >= 0.5
""",
        "dedup_edit_sim": f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
keep AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.25),
nt AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS ntext
  FROM documents
),
scored AS (
  SELECT k.doc_a, k.doc_b,
         ROUND(1.0 - CAST(levenshtein(a.ntext, b.ntext) AS DOUBLE)
                     / GREATEST(length(a.ntext), length(b.ntext)), 6) AS edit_sim
  FROM keep k
  JOIN nt a ON k.doc_a = a.doc_id
  JOIN nt b ON k.doc_b = b.doc_id
)
SELECT * FROM scored WHERE edit_sim >= 0.6
""",
        "dedup_components": f"""
WITH {_CC_CTE}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS component FROM cc
""",
        "dedup_components_fixed": f"""
WITH {_CC_CTE}
SELECT CAST(node AS BIGINT) AS doc_id, CAST(comp AS BIGINT) AS component FROM cc
""",
        "dedup_purge": f"""
WITH {_CC_CTE}
SELECT d.doc_id, d.source
FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
WHERE cc.node IS NULL OR cc.comp = d.doc_id
""",
        "dedup_simhash": f"""
WITH {_TOK_CTE},
words AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt,
         {_MD5H.format(x='word')} AS wh
  FROM tok GROUP BY doc_id, word
),
bits AS (
  SELECT doc_id, cnt, wh, unnest(range(0, 32)) AS b FROM words
),
contrib AS (
  SELECT doc_id, b,
         SUM(cnt * (CASE WHEN (wh >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) AS s
  FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
FROM contrib GROUP BY doc_id
""",
        "dedup_simhash_pairs": f"""
WITH {_TOK_CTE},
words AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt,
         {_MD5H.format(x='word')} AS wh
  FROM tok GROUP BY doc_id, word
),
bits AS (
  SELECT doc_id, cnt, wh, unnest(range(0, 32)) AS b FROM words
),
contrib AS (
  SELECT doc_id, b,
         SUM(cnt * (CASE WHEN (wh >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) AS s
  FROM bits GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END) AS BIGINT) AS simhash
  FROM contrib GROUP BY doc_id
),
by_byte AS (
  SELECT doc_id, simhash, k, (simhash >> CAST(k * 8 AS INT)) & 255 AS byte
  FROM sh, (SELECT unnest(range(0, 4)) AS k)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS sa, y.simhash AS sb
  FROM by_byte x JOIN by_byte y ON x.k = y.k AND x.byte = y.byte
  WHERE x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 4
""",
        "mm_decode_meta": f"""
WITH {_DEC_CTE}
SELECT doc_id, media_type, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(n_channels AS INT) AS n_channels, n_bytes, checksum
FROM dec
""",
        "mm_resize_plan": f"""
WITH {_DEC_CTE},
sc AS (
  SELECT doc_id, width, height, text,
         LEAST(224.0 / width, 224.0 / height) AS scale
  FROM dec WHERE media_type = 'image'
),
dims AS (
  SELECT doc_id, width, height, text,
         GREATEST(1, CAST(FLOOR(width * scale + 0.5) AS BIGINT)) AS dw,
         GREATEST(1, CAST(FLOOR(height * scale + 0.5) AS BIGINT)) AS dh
  FROM sc
)
SELECT doc_id,
       CAST(width AS INT) AS src_w, CAST(height AS INT) AS src_h,
       CAST(dw AS INT) AS dst_w, CAST(dh AS INT) AS dst_h,
       FLOOR(CAST(dw AS DOUBLE) / width * 1e6 + 0.5) / 1e6 AS scale_x,
       FLOOR(CAST(dh AS DOUBLE) / height * 1e6 + 0.5) / 1e6 AS scale_y,
       CAST('0x' || substr(md5(text || 'x' || dw || 'x' || dh), 1, 15) AS BIGINT) AS resized_checksum
FROM dims
""",
        "mm_sample_frames": f"""
WITH {_DEC_CTE},
fr AS (
  SELECT doc_id, text, unnest(range(0, n_bytes // 16, 4)) AS frame_idx
  FROM dec WHERE media_type = 'video'
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST('0x' || substr(md5(substr(text, CAST(frame_idx * 16 + 1 AS INT), 16)), 1, 15) AS BIGINT)
         % {PRIME_P} AS frame_checksum
FROM fr
""",
        # round 5: independent oracle for the REAL-codec path.  Spark
        # builds genuine PNG/WAV/MJPNG containers from the first 256 text
        # bytes (space-padded) and REALLY decodes them (zlib inflate +
        # unfilter / wave parse); the decoded bytes are by construction
        # the padded text bytes, so DuckDB recomputes every stat from
        # character arithmetic (the corpus is ASCII: 1 char == 1 byte,
        # ord == byte value) and md5 over the same string.  Means divide
        # by powers of two (256/128) — exact doubles, no rounding.
        "mm_real_decode_stats": """
WITH p AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         rpad(substr(text, 1, 256), 256, ' ') AS pp
  FROM documents
),
s AS (
  SELECT doc_id, media_type, pp,
         CASE WHEN media_type = 'video'
              THEN substr(pp, 1, 64) || substr(pp, 129, 64)
              ELSE pp END AS content
  FROM p
)
SELECT doc_id, media_type,
       CAST(CASE media_type WHEN 'image' THEN 16 WHEN 'video' THEN 8
            ELSE 0 END AS INT) AS width,
       CAST(CASE media_type WHEN 'image' THEN 16 WHEN 'video' THEN 8
            ELSE 0 END AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       CAST(length(content) AS BIGINT) AS n_units,
       CAST(list_sum(list_transform(range(1, length(content) + 1),
              i -> ord(substr(content, CAST(i AS INT), 1)))) AS DOUBLE)
         / length(content) AS mean_value,
       CAST('0x' || substr(md5(content), 1, 15) AS BIGINT) AS content_md5
FROM s
""",
        "mm_features": f"""
WITH {_DEC_CTE}
SELECT doc_id, CAST(j AS INT) AS dim_idx,
       FLOOR((CAST('0x' || substr(md5(text || '#' || j), 1, 15) AS BIGINT) % {PRIME_P})
             / {PRIME_P}.0 * 1e6 + 0.5) / 1e6 AS feat
FROM dec, (SELECT unnest(range(0, 8)) AS j)
""",
        "sim_cosine_topk": f"""
WITH {_VEC_CTE},
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
s AS (
  SELECT q_id, vec_id,
         ROUND(list_dot_product(vec, q_vec) / (nrm * q_nrm), 6) AS cosine
  FROM nv, q WHERE vec_id != q_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s
)
SELECT q_id, vec_id, cosine FROM r WHERE rn <= 5
""",
        "sim_lsh_topk": f"""
WITH {_BUCKET_CTE},
q AS (
  SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm, bucket
  FROM buckets WHERE vec_id < 10
),
s AS (
  SELECT q_id, b.vec_id, b.bucket,
         ROUND(list_dot_product(b.vec, q_vec) / (b.nrm * q_nrm), 6) AS cosine
  FROM buckets b JOIN q USING (bucket) WHERE b.vec_id != q_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s
)
SELECT q_id, vec_id, cosine, bucket FROM r WHERE rn <= 5
""",
        "sim_lsh_multi_topk": f"""
WITH {_VEC_CTE},
{_multi_planes_sql(4)},
proj AS (
  SELECT vec_id, vec, nrm, t, p, list_dot_product(vec, w) AS pr
  FROM nv, planes_t
),
buckets AS (
  SELECT vec_id, t,
         CAST(SUM(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, t
),
q AS (SELECT vec_id AS q_id, t, bucket FROM buckets WHERE vec_id < 10),
cand AS (
  SELECT DISTINCT q.q_id, b.vec_id
  FROM buckets b JOIN q ON b.t = q.t AND b.bucket = q.bucket
  WHERE b.vec_id != q.q_id
),
s AS (
  SELECT cand.q_id, cand.vec_id,
         ROUND(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) AS cosine
  FROM cand
  JOIN nv x ON cand.vec_id = x.vec_id
  JOIN nv y ON cand.q_id = y.vec_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s
)
SELECT q_id, vec_id, cosine FROM r WHERE rn <= 5
""",
        "sim_embedding_dup_pairs": f"""
WITH {_BUCKET_CTE},
pairs AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
         ROUND(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) AS cosine
  FROM buckets x JOIN buckets y ON x.bucket = y.bucket
  WHERE x.vec_id < y.vec_id
)
SELECT * FROM pairs WHERE cosine >= 0.4
""",
        "sim_semantic_dedup": f"""
WITH {_VEC_CTE},
cents AS (SELECT vec_id AS cent_id, vec AS c_vec, nrm AS c_nrm FROM nv WHERE vec_id < 16),
asg AS (
  SELECT vec_id, vec, nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1),
pairs AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cent_id AS cent_id,
         ROUND(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) AS cosine
  FROM idx x JOIN idx y ON x.cent_id = y.cent_id
  WHERE x.vec_id < y.vec_id
)
SELECT * FROM pairs WHERE cosine >= 0.4
""",
        "sim_quantized_topk": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
mx AS (
  SELECT vec_id, vec, list_max(list_transform(vec, x -> abs(x))) AS m FROM v
),
qv AS (
  SELECT vec_id,
         list_transform(vec, x -> CAST(floor(x * (127.0 / m) + 0.5) AS BIGINT)) AS qvec
  FROM mx WHERE m > 0
),
qn AS (
  SELECT vec_id, qvec,
         sqrt(CAST(list_aggregate(list_transform(qvec, x -> x * x), 'sum') AS DOUBLE)) AS qnrm
  FROM qv
),
qz AS (SELECT * FROM qn WHERE qnrm > 0),
q AS (SELECT vec_id AS q_id, qvec AS q_qvec, qnrm AS q_qnrm FROM qz WHERE vec_id < 10),
s AS (
  -- int dot via double list_dot_product: |q_i| <= 127 so the products and
  -- their sum stay far inside the 2^53 exact-integer range of DOUBLE
  SELECT q_id, vec_id,
         ROUND(list_dot_product(list_transform(qvec, x -> CAST(x AS DOUBLE)),
                                list_transform(q_qvec, x -> CAST(x AS DOUBLE)))
               / (qnrm * q_qnrm), 6) AS qcosine
  FROM qz, q WHERE vec_id != q_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qcosine DESC, vec_id ASC) AS rn
  FROM s
)
SELECT q_id, vec_id, qcosine FROM r WHERE rn <= 5
""",
        "cur_contamination": f"""
WITH {_SHINGLE_CTE},
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
SELECT tr.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM tr JOIN ev USING (shingle)
GROUP BY tr.doc_id
""",
        "cur_hash_split": f"""
WITH b AS (
  SELECT doc_id, n_chars,
         {_MD5H.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 9000 THEN 'train'
              WHEN bucket < 9500 THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM b
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split
""",
        "cur_classifier": f"""
WITH {_TOK_CTE},
w(b, wt) AS (VALUES {",".join(f"({b},{wt})" for b, wt in enumerate(cur.clf_weights()))}),
bs AS (
  SELECT doc_id, {_MD5H.format(x='word')} % {cur.N_CLF_BUCKETS} AS b FROM tok
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(wt) AS BIGINT) AS wsum
  FROM bs JOIN w USING (b) GROUP BY doc_id
),
sc AS (
  SELECT doc_id, n_tokens,
         ROUND(1.0 / (1.0 + exp(-({cur.CLF_BIAS} + CAST(wsum AS DOUBLE) / (1000000.0 * n_tokens)))), 6) AS clf_score
  FROM agg
)
SELECT doc_id, n_tokens, clf_score, (clf_score >= 0.5) AS keep FROM sc
""",
        "cur_stratified": f"""
WITH r AS (
  SELECT doc_id, text, lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY {_MD5H.format(x="'strat:' || CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn <= 5
""",
        "cur_repetition": f"""
WITH {_TOK_CTE},
wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM tok GROUP BY doc_id, word),
ws AS (SELECT doc_id, SUM(cnt) AS n_tokens, MAX(cnt) AS top_cnt FROM wc GROUP BY doc_id),
bg_raw AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER w AS bigram,
         lead(word) OVER w AS _next
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
bg AS (SELECT doc_id, bigram FROM bg_raw WHERE _next IS NOT NULL),
bs AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT bigram) AS n_uniq
  FROM bg GROUP BY doc_id
)
SELECT ws.doc_id AS doc_id, CAST(ws.n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(ws.top_cnt AS DOUBLE) / ws.n_tokens, 6) AS top_word_frac,
       ROUND(1.0 - CAST(bs.n_uniq AS DOUBLE) / bs.n_bigrams, 6) AS dup_bigram_frac
FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
""",
        "cur_curate": f"""
WITH {curate_ctes}
SELECT d.source AS source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(q.quality) AS min_quality, MAX(q.quality) AS max_quality
FROM norm d
JOIN keep USING (doc_id)
JOIN qual q USING (doc_id)
JOIN rep USING (doc_id)
JOIN pred USING (doc_id)
WHERE q.quality >= 0.5 AND rep.top_word_frac <= 0.2 AND pred.pred_lang = d.lang
GROUP BY d.source
""",
        "cur_funnel": f"""
WITH {curate_ctes},
flags AS (
  SELECT n.doc_id,
         (k.doc_id IS NOT NULL) AS s1,
         (k.doc_id IS NOT NULL AND q.quality >= 0.5) AS s2,
         (k.doc_id IS NOT NULL AND q.quality >= 0.5 AND r.top_word_frac <= 0.2) AS s3,
         (k.doc_id IS NOT NULL AND q.quality >= 0.5 AND r.top_word_frac <= 0.2
          AND p.pred_lang = n.lang) AS s4
  FROM norm n
  LEFT JOIN keep k USING (doc_id)
  JOIN qual q USING (doc_id)
  JOIN rep r USING (doc_id)
  JOIN pred p USING (doc_id)
),
wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT '1_exact_dedup' AS stage, n0 AS n_in, n1 AS n_out,
       ROUND(CAST(n0 - n1 AS DOUBLE) / GREATEST(n0, 1), 6) AS drop_pct FROM wide
UNION ALL SELECT '2_quality', n1, n2, ROUND(CAST(n1 - n2 AS DOUBLE) / GREATEST(n1, 1), 6) FROM wide
UNION ALL SELECT '3_repetition', n2, n3, ROUND(CAST(n2 - n3 AS DOUBLE) / GREATEST(n2, 1), 6) FROM wide
UNION ALL SELECT '4_lang_match', n3, n4, ROUND(CAST(n3 - n4 AS DOUBLE) / GREATEST(n3, 1), 6) FROM wide
""",
        "cur_pack_stats": """
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
c AS (
  SELECT shard, n_tokens,
         CAST(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) - n_tokens AS start_offset
  FROM t
)
SELECT shard, start_offset // 256 AS pack,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY shard, pack
""",
        "cur_sample_mixture": f"""
WITH b AS (
  SELECT source, n_chars,
         {_MD5H.format(x="'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b
WHERE bucket < CASE source
  WHEN 'src0' THEN 10000 WHEN 'src1' THEN 7500 WHEN 'src2' THEN 5000
  WHEN 'src3' THEN 2500 WHEN 'src4' THEN 0 ELSE 1000 END
GROUP BY source
""",
        "text_redact_pii": f"""
WITH seeded AS (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@mail.example or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 ref ' || CAST(1000000 + doc_id * 37 AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{tx.PII_IPV4_RE}', '<IP>', 'g'),
         '{tx.PII_LONG_ID_RE}', '<ID>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{tx.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{tx.PII_IPV4_RE}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{tx.PII_LONG_ID_RE}')) AS BIGINT) AS n_long_ids
FROM seeded
""",
        "sim_random_projection": f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
{_rp_planes_sql()}
SELECT vec_id, j, ROUND(list_dot_product(vec, w), 6) AS component
FROM v, rp
""",
        "text_ngram_topk": f"""
WITH {_TOK_CTE},
g AS (
  SELECT word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS ngram,
         lead(word, 2) OVER w AS _last
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
c AS (
  SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM g WHERE _last IS NOT NULL GROUP BY ngram
),
ranked AS (
  SELECT ngram, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, ngram ASC) AS rank
  FROM c
)
SELECT ngram, n_occurrences, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 20
""",
        "text_chunks": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks) - 8 - 1, 0) + 1, 24)) AS chunk_start
  FROM t
)
SELECT doc_id,
       chunk_start // 24 AS chunk_id,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       CAST(len(list_slice(toks, chunk_start + 1, chunk_start + 32)) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 32), ' ')
         AS chunk_text
FROM s
""",
        "text_vocab_ids": f"""
WITH {_TOK_CTE},
c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS term_count FROM tok GROUP BY word),
top AS (SELECT word, term_count FROM c ORDER BY term_count DESC, word LIMIT 50)
SELECT word,
       CAST(ROW_NUMBER() OVER (ORDER BY term_count DESC, word) - 1 AS BIGINT)
         AS token_id,
       term_count
FROM top
""",
        "text_tokenize_ids": f"""
WITH {_TOK_CTE},
c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS term_count FROM tok GROUP BY word),
top AS (SELECT word, term_count FROM c ORDER BY term_count DESC, word LIMIT 50),
v AS (
  SELECT word,
         ROW_NUMBER() OVER (ORDER BY term_count DESC, word) - 1 AS token_id
  FROM top
)
SELECT t.doc_id,
       CAST(t.pos - 1 AS BIGINT) AS pos,
       CAST(COALESCE(v.token_id, -1) AS BIGINT) AS token_id
FROM tok t LEFT JOIN v USING (word)
""",
        "graph_dup_stats": f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
canon AS (
  SELECT DISTINCT doc_a AS u, doc_b AS v FROM est WHERE est_jaccard >= 0.25
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon
  ) GROUP BY node
),
tri AS (
  SELECT COUNT(*) AS t FROM canon e1
  JOIN canon e2 ON e1.v = e2.u
  JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
         CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
       CASE WHEN n_wedges = 0 THEN 0.0
            ELSE ROUND(3.0 * t / n_wedges, 6) END AS clustering
FROM agg, tri
""",
        # incremental ingest twin: bands over ALL docs, split even (history)
        # / odd (batch) — band computation is per-doc, so post-filtering is
        # identical to computing bands on each subset
        "dedup_incremental": f"""
WITH {_BANDS_CTE},
nb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
hb AS (SELECT band, band_key FROM bands WHERE doc_id % 2 = 0),
hist_hit AS (
  SELECT DISTINCT nb.doc_id FROM nb JOIN hb
  ON nb.band = hb.band AND nb.band_key = hb.band_key
),
batch_hit AS (
  SELECT DISTINCT x.doc_id FROM nb x JOIN nb y
  ON x.band = y.band AND x.band_key = y.band_key AND y.doc_id < x.doc_id
)
SELECT d.doc_id,
       h.doc_id IS NOT NULL AS dup_of_history,
       b.doc_id IS NOT NULL AS dup_in_batch,
       (h.doc_id IS NULL AND b.doc_id IS NULL) AS keep
FROM documents d
LEFT JOIN hist_hit h ON h.doc_id = d.doc_id
LEFT JOIN batch_hit b ON b.doc_id = d.doc_id
WHERE d.doc_id % 2 = 1
""",
        "text_heavy_hitters": f"""
WITH {_TOK_CTE},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok)
SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n), 6) AS frequency
FROM tok, tot t
GROUP BY word
HAVING COUNT(*) >= 0.002 * ANY_VALUE(t.n)
""",
        "sim_dimension_stats": """
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(x), 6) AS mean,
       ROUND(sqrt(GREATEST(0.0, AVG(x*x) - AVG(x)*AVG(x))), 6) AS std,
       MIN(x) AS vmin, MAX(x) AS vmax
FROM x GROUP BY dim
""",
        "lineitem_correlations": """
WITH c AS (
  SELECT corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)) AS a,
         corr(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)) AS b,
         corr(CAST(l_quantity AS DOUBLE), CAST(l_tax AS DOUBLE)) AS cc,
         corr(CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)) AS d,
         corr(CAST(l_extendedprice AS DOUBLE), CAST(l_tax AS DOUBLE)) AS e,
         corr(CAST(l_discount AS DOUBLE), CAST(l_tax AS DOUBLE)) AS f
  FROM lineitem
)
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, ROUND(a, 6) AS corr FROM c
UNION ALL SELECT 'l_quantity', 'l_discount', ROUND(b, 6) FROM c
UNION ALL SELECT 'l_quantity', 'l_tax', ROUND(cc, 6) FROM c
UNION ALL SELECT 'l_extendedprice', 'l_discount', ROUND(d, 6) FROM c
UNION ALL SELECT 'l_extendedprice', 'l_tax', ROUND(e, 6) FROM c
UNION ALL SELECT 'l_discount', 'l_tax', ROUND(f, 6) FROM c
""",
        "cur_quality_calibrated": f"""
WITH {_TOK_CTE},
w(b, wt) AS (VALUES {",".join(f"({b},{wt})" for b, wt in enumerate(cur.clf_weights()))}),
bs AS (
  SELECT doc_id, {_MD5H.format(x='word')} % {cur.N_CLF_BUCKETS} AS b FROM tok
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(wt) AS BIGINT) AS wsum
  FROM bs JOIN w USING (b) GROUP BY doc_id
),
sc AS (
  SELECT doc_id,
         ROUND(1.0 / (1.0 + exp(-({cur.CLF_BIAS} + CAST(wsum AS DOUBLE) / (1000000.0 * n_tokens)))), 6) AS clf_score
  FROM agg
),
thr AS (SELECT quantile_cont(clf_score, 0.5) AS threshold FROM sc)
SELECT d.source AS strata,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN s.clf_score >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(ANY_VALUE(t.threshold), 6) AS threshold
FROM sc s JOIN documents d USING (doc_id), thr t
GROUP BY 1
""",
        "lineitem_price_histogram": """
WITH rng AS (
  SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
         MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
  FROM lineitem
),
binned AS (
  SELECT CASE WHEN r.lo = r.hi THEN 1
              ELSE LEAST(20, CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - r.lo) / (r.hi - r.lo) * 20) AS INT) + 1)
         END AS bin,
         r.lo AS lo0, r.hi AS hi0
  FROM lineitem, rng r
  WHERE l_extendedprice IS NOT NULL
)
SELECT bin,
       ROUND(ANY_VALUE(lo0) + (bin - 1) * (ANY_VALUE(hi0) - ANY_VALUE(lo0)) / 20, 6) AS lo,
       ROUND(CASE WHEN bin = 20 THEN ANY_VALUE(hi0)
                  ELSE ANY_VALUE(lo0) + bin * (ANY_VALUE(hi0) - ANY_VALUE(lo0)) / 20 END, 6) AS hi,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM binned
GROUP BY bin
""",
        "lineitem_bloom_semi": """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice >= 400000
)
GROUP BY 1
""",
        "text_bm25_topk": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
g AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
      FROM lens),
q(word) AS (VALUES ('datos'), ('fast'), ('row'), ('the')),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE word IN (SELECT word FROM q) GROUP BY 1, 2
),
df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY 1),
s AS (
  -- Lucene-form idf * BM25 tf saturation, k1=1.2 b=0.75
  SELECT tf.doc_id, tf.word,
         LN((g.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / g.avgdl)) AS s
  FROM tf JOIN df USING (word) JOIN lens USING (doc_id) CROSS JOIN g
),
per AS (
  -- fold in ascending word order: same float sum order as the engine's
  -- sort_array + aggregate
  SELECT doc_id,
         ROUND(list_aggregate(list(s ORDER BY word), 'sum'), 6) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM s GROUP BY doc_id
),
top AS (SELECT * FROM per ORDER BY score DESC, doc_id ASC LIMIT 10)
SELECT doc_id, score, n_terms_hit,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
FROM top
""",
        "text_bm25_batch": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
g AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
      FROM lens),
q(query_id, word) AS (VALUES
  (0, 'the'), (0, 'fast'), (0, 'datos'), (0, 'row'),
  (1, 'spark'), (1, 'join'), (1, 'merge'),
  (2, 'slow'), (2, 'batch'), (2, 'vector'), (2, 'scan')),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE word IN (SELECT DISTINCT word FROM q) GROUP BY 1, 2
),
df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY 1),
s AS (
  SELECT q.query_id, tf.doc_id, tf.word,
         LN((g.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / g.avgdl)) AS s
  FROM tf JOIN q USING (word) JOIN df USING (word)
  JOIN lens USING (doc_id) CROSS JOIN g
),
per AS (
  -- fold in ascending word order per (query, doc): same float sum
  -- order as the engine's sort_array + aggregate
  SELECT query_id, doc_id,
         ROUND(list_aggregate(list(s ORDER BY word), 'sum'), 6) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM s GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
  FROM per
)
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, n_terms_hit, rank
FROM r WHERE rank <= 10
""",
        "text_hybrid_rrf": f"""
WITH {_VEC_CTE},
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
lens AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
g AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
      FROM lens),
q(word) AS (VALUES ('datos'), ('fast'), ('row'), ('the')),
tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
  WHERE word IN (SELECT word FROM q) GROUP BY 1, 2
),
df AS (SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY 1),
s AS (
  SELECT tf.doc_id, tf.word,
         LN((g.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * (tf.tf * 2.2)
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * lens.dl / g.avgdl)) AS s
  FROM tf JOIN df USING (word) JOIN lens USING (doc_id) CROSS JOIN g
),
per AS (
  SELECT doc_id,
         ROUND(list_aggregate(list(s ORDER BY word), 'sum'), 6) AS score
  FROM s GROUP BY doc_id
),
bm AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS bm25_rank
  FROM (SELECT * FROM per ORDER BY score DESC, doc_id ASC LIMIT 20)
),
qv AS (SELECT vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id = 0),
dsc AS (
  SELECT nv.vec_id AS doc_id,
         ROUND(list_dot_product(vec, q_vec) / (nrm * q_nrm), 6) AS cosine
  FROM nv, qv
  WHERE nv.vec_id != 0
    AND nv.vec_id IN (SELECT doc_id FROM documents)
),
dn AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT)
           AS cosine_rank
  FROM (SELECT * FROM dsc ORDER BY cosine DESC, doc_id ASC LIMIT 20)
),
fused AS (
  SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id, bm.bm25_rank, dn.cosine_rank,
         -- fixed sum order (bm25 term + cosine term), same as the engine
         ROUND(COALESCE(1.0 / (60 + bm.bm25_rank), 0.0)
               + COALESCE(1.0 / (60 + dn.cosine_rank), 0.0), 6) AS rrf_score,
         CAST((CASE WHEN bm.bm25_rank IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN dn.cosine_rank IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_lists
  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
)
SELECT doc_id, bm25_rank, cosine_rank, rrf_score, n_lists,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT)
         AS rank
FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10)
""",
        "text_source_overlap": """
WITH sv AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS word
  FROM documents
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words FROM sv GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common, sa.n_words AS n_a, sb.n_words AS n_b,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_words + sb.n_words - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.source = inter.src_a
JOIN sizes sb ON sb.source = inter.src_b
""",
        "dedup_dup_spans": _SPAN_CTE + """
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       MAX(pos) + 4 - MIN(pos) + 1 AS span_tokens
FROM isl GROUP BY doc_id, island
""",
        "dedup_span_stats": _SPAN_CTE + """,
spans AS (
  SELECT doc_id, MAX(pos) + 4 - MIN(pos) + 1 AS span_tokens
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
         CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(p.max_span_tokens, 0) AS BIGINT) AS max_span_tokens,
       ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
             / len(string_split(d.text, ' ')), 6) AS dup_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
        "dedup_trim_spans": _SPAN_CTE + """,
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end
  FROM isl GROUP BY doc_id, island
),
marked AS (
  SELECT t.doc_id, t.pos, t.word, s.span_start
  FROM tok5 t LEFT JOIN spans s
    ON t.doc_id = s.doc_id AND t.pos BETWEEN s.span_start AND s.span_end
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN span_start IS NULL THEN word END, ' '
                           ORDER BY pos), '') AS clean_text,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN span_start IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM marked GROUP BY doc_id
""",
        "cur_token_shards": f"""
WITH base AS (
  SELECT doc_id,
         {_MD5H.format(x="'shard-order:' || CAST(doc_id AS VARCHAR)")} AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  -- single global window: fine at oracle scale, the engine's two-phase
  -- bucketed form is plan-asserted in tests/test_curation.py
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
           - n_tokens AS global_start
  FROM base
)
SELECT CAST(global_start // 2048 AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(MIN(global_start) AS BIGINT) AS first_offset
FROM cum GROUP BY 1
""",
        "cur_weighted_sample": f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS weight,
         ROUND(LN(({_MD5H.format(x="'ws:' || CAST(doc_id AS VARCHAR)")} + 1.0)
                  / 1152921504606846976.0)
               / CAST(n_chars AS DOUBLE), 6) + 0.0 AS key,
         {_MD5H.format(x="'ws#tb:' || CAST(doc_id AS VARCHAR)")} AS tb
  FROM documents WHERE n_chars > 0
),
top AS (SELECT * FROM keyed ORDER BY key DESC, tb ASC, doc_id ASC LIMIT 12)
SELECT doc_id, weight, key,
       CAST(ROW_NUMBER() OVER (ORDER BY key DESC, tb ASC, doc_id ASC) AS BIGINT) AS rank
FROM top
""",
        "text_novelty": "WITH " + _SHINGLE_CTE + """,
first AS (
  SELECT shingle, MIN(doc_id) AS _first_doc FROM sh GROUP BY shingle
),
per_doc AS (
  SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN f._first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM sh JOIN first f USING (shingle)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
       ROUND(COALESCE(CAST(p.n_novel AS DOUBLE) / p.n_grams, 0.0), 6) AS novelty_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
        "cur_mixture_kl": f"""
WITH per_source AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tgt(source, target_share) AS (
  VALUES {", ".join(f"('src{i}', {(i + 1) / 210.0!r})" for i in range(20))}
),
tot AS (SELECT SUM(n_tokens) AS _total FROM per_source),
j AS (
  SELECT COALESCE(p.source, g.source) AS source,
         COALESCE(p.n_tokens, 0) AS n_tokens, g.target_share
  FROM per_source p FULL JOIN tgt g ON p.source = g.source
)
SELECT j.source, CAST(j.n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(j.n_tokens AS DOUBLE) / t._total, 6) AS actual_share,
       ROUND(j.target_share, 6) AS target_share,
       ROUND(CASE WHEN j.n_tokens = 0 THEN 0.0
                  ELSE CAST(j.n_tokens AS DOUBLE) / t._total
                       * LN(CAST(j.n_tokens AS DOUBLE) / t._total / j.target_share) END,
             6) AS kl_term
FROM j CROSS JOIN tot t
""",
        "dedup_rate_by_source": f"""
WITH keyed AS (
  SELECT source,
         {_MD5H.format(x="regexp_replace(trim(lower(text)), ' +', ' ', 'g')")} AS k
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT k) AS BIGINT) AS n_uniq,
       ROUND(1.0 - CAST(COUNT(DISTINCT k) AS DOUBLE) / COUNT(*), 6) AS dup_frac
FROM keyed GROUP BY source
""",
        "events_psi_drift": """
WITH binned AS (
  SELECT event_id % 2 AS side,
         1 + (CASE WHEN value > 20.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 40.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 60.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 80.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 120.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 200.0 THEN 1 ELSE 0 END)
           + (CASE WHEN value > 300.0 THEN 1 ELSE 0 END) AS bin
  FROM events
),
ga AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_a FROM binned WHERE side = 0 GROUP BY 1),
gb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b FROM binned WHERE side = 1 GROUP BY 1),
j AS (
  SELECT COALESCE(ga.bin, gb.bin) AS bin,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ga FULL OUTER JOIN gb ON ga.bin = gb.bin
),
f AS (
  SELECT bin, n_a, n_b,
         CAST(n_a AS DOUBLE) / SUM(n_a) OVER () AS fa,
         CAST(n_b AS DOUBLE) / SUM(n_b) OVER () AS fb
  FROM j
)
SELECT bin, n_a, n_b, ROUND(fa, 6) AS frac_a, ROUND(fb, 6) AS frac_b,
       ROUND((GREATEST(fa, 1e-6) - GREATEST(fb, 1e-6))
             * LN(GREATEST(fa, 1e-6) / GREATEST(fb, 1e-6)), 6) AS psi
FROM f
""",
        "customer_k_anonymity": """
WITH g AS (
  SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n) AS BIGINT) AS min_group_size,
       CAST(SUM(CASE WHEN n < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(SUM(CASE WHEN n < 8 THEN n ELSE 0 END) AS BIGINT) AS n_violating_rows,
       CAST(CASE WHEN MIN(n) >= 8 THEN 1 ELSE 0 END AS BIGINT) AS k_anonymous
FROM g
""",
        "text_zipf_fit": """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
h AS (SELECT word, freq FROM c ORDER BY freq DESC, word ASC LIMIT 100),
r AS (
  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, word ASC) AS rnk,
         CAST(freq AS DOUBLE) AS freq
  FROM h
),
p AS (SELECT rnk, LN(CAST(rnk AS DOUBLE)) AS x, LN(freq) AS y FROM r),
s AS (
  -- fold each regression sum in ascending rank order: same float-sum
  -- order as the engine's sort_array + aggregate
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         list_aggregate(list(x ORDER BY rnk), 'sum') AS sx,
         list_aggregate(list(y ORDER BY rnk), 'sum') AS sy,
         list_aggregate(list(x * x ORDER BY rnk), 'sum') AS sxx,
         list_aggregate(list(x * y ORDER BY rnk), 'sum') AS sxy
  FROM p
)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM s
""",
        "dedup_tfidf_cosine": f"""
WITH {_TOK_CTE},
sh_raw AS (
  SELECT doc_id,
         word || ' ' || lead(word) OVER w || ' ' || lead(word, 2) OVER w AS term,
         lead(word, 2) OVER w AS _last
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM sh_raw WHERE _last IS NOT NULL GROUP BY 1, 2
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
dfr AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM tf GROUP BY 1 HAVING COUNT(*) <= 200
),
wt AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS DOUBLE) * LN(CAST(nd.n_docs AS DOUBLE) / dfr.df) AS w
  FROM tf JOIN dfr USING (term) CROSS JOIN nd
),
norms AS (
  -- fold in ascending term order: same float-sum order as the engine;
  -- zero-norm docs (all-idf-0) leave the vector space like the engine's
  SELECT * FROM (
    SELECT doc_id, SQRT(list_aggregate(list(w * w ORDER BY term), 'sum')) AS norm
    FROM wt GROUP BY 1
  ) WHERE norm > 0
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_terms,
         list_aggregate(list(a.w * b.w ORDER BY a.term), 'sum') AS dot
  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common_terms,
       ROUND(dot / (na.norm * nb.norm), 6) AS cosine
FROM pairs
JOIN norms na ON na.doc_id = pairs.doc_a
JOIN norms nb ON nb.doc_id = pairs.doc_b
WHERE ROUND(dot / (na.norm * nb.norm), 6) >= 0.2
""",
        "dedup_sorted_neighborhood": """
WITH k AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS key
  FROM documents
),
r AS (
  SELECT doc_id, key,
         CAST(ROW_NUMBER() OVER (ORDER BY key, doc_id) AS BIGINT) AS rnk
  FROM k
),
d AS (SELECT unnest([1, 2]) AS delta)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.rnk AS rank_a, b.rnk AS rank_b,
       CAST(CASE WHEN a.key = b.key THEN 1 ELSE 0 END AS BIGINT) AS same_norm
FROM r a CROSS JOIN d JOIN r b ON b.rnk = a.rnk + d.delta
""",
        "events_rolling_dau": """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
),
rng AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
o AS (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS off),
e AS (SELECT user_id, day + off AS window_end FROM d CROSS JOIN o)
SELECT window_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
FROM e CROSS JOIN rng
WHERE window_end >= rng.mn AND window_end <= rng.mx
GROUP BY 1
""",
        "events_cooccurrence": """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
pr AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_both, na.n_t AS n_a, nb.n_t AS n_b,
       ROUND(CAST(n_both AS DOUBLE) * nu.n_users / (na.n_t * nb.n_t), 6)
         AS lift
FROM pr
JOIN pt na ON na.event_type = pr.type_a
JOIN pt nb ON nb.event_type = pr.type_b
CROSS JOIN nu
""",
        "text_source_entropy": f"""
WITH c AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
cnts AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2),
cb AS (
  SELECT source, word, cnt,
         {_MD5H.format(x="word")} % 256 AS bucket
  FROM cnts
),
p AS (
  -- level 1: fold cnt*ln(cnt) in ascending word order within each bucket
  SELECT source, bucket,
         list_aggregate(
           list(CAST(cnt AS DOUBLE) * LN(CAST(cnt AS DOUBLE)) ORDER BY word),
           'sum') AS s,
         CAST(SUM(cnt) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS v
  FROM cb GROUP BY 1, 2
)
-- level 2: fold bucket partials in ascending bucket order
SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(v) AS BIGINT) AS n_vocab,
       ROUND(LN(CAST(SUM(n) AS DOUBLE))
             - list_aggregate(list(s ORDER BY bucket), 'sum') / SUM(n), 6)
         AS entropy
FROM p GROUP BY source
""",
        "graph_pagerank": _pagerank_sql(n_iter=5, damping=0.85),
        # round 4c: corpus-trained add-0.5-smoothed bigram LM.  logp terms
        # fold in token-position order (list ORDER BY pos == the engine's
        # sort_array + aggregate), so the per-doc float sum is evaluated
        # in the SAME order on both engines.
        "text_lm_score": f"""
WITH {_TOK_CTE},
bg AS (
  SELECT doc_id, pos, word AS w1,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bg2 AS (SELECT doc_id, pos, w1, w2 FROM bg WHERE w2 IS NOT NULL),
uni AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg2 GROUP BY 1),
bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg2 GROUP BY 1, 2),
v AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM tok),
lp AS (
  SELECT doc_id, pos, LN((c2 + 0.5) / (c1 + 0.5 * v.v)) AS logp
  FROM bg2 JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         list_aggregate(list(logp ORDER BY pos), 'sum') AS total
  FROM lp GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       ROUND(total / per.n_bigrams, 6) AS avg_logp,
       ROUND(EXP(-(total / per.n_bigrams)), 6) AS ppl_proxy
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
        # round 11: interpolated Kneser-Ney trigram scorer — the same
        # expression tree as the Spark operator, CTE-chained so p1/p2/p3
        # nest in the identical IEEE evaluation order; counts derive
        # from the c3 TYPE table exactly as in the engine
        "text_kn_score": f"""
WITH {_TOK_CTE},
tri0 AS (
  SELECT doc_id, pos, word AS w1,
         lead(word) OVER w AS w2,
         lead(word, 2) OVER w AS w3
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
tri AS (SELECT doc_id, pos, w1, w2, w3 FROM tri0 WHERE w3 IS NOT NULL),
c3 AS (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM tri GROUP BY 1, 2, 3
),
ctx2 AS (
  SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12,
         CAST(COUNT(*) AS BIGINT) AS n12
  FROM c3 GROUP BY 1, 2
),
cbi AS (
  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cc FROM c3 GROUP BY 1, 2
),
ctx1 AS (
  SELECT w2, CAST(SUM(cc) AS BIGINT) AS cx1,
         CAST(COUNT(*) AS BIGINT) AS n1
  FROM cbi GROUP BY 1
),
cuni AS (
  SELECT w3, CAST(COUNT(*) AS BIGINT) AS cu FROM cbi GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS b,
         CAST(COUNT(DISTINCT w3) AS DOUBLE) AS w1p
  FROM cbi
),
voc AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM tok),
joined AS (
  SELECT t.doc_id, t.pos,
         COALESCE(c3.c3, 0) AS c3c, ctx2.c12, ctx2.n12,
         COALESCE(cbi.cc, 0) AS ccc, ctx1.cx1, ctx1.n1,
         COALESCE(cuni.cu, 0) AS cuc, tot.b, tot.w1p, voc.v
  FROM tri t
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
  LEFT JOIN ctx2 ON t.w1 = ctx2.w1 AND t.w2 = ctx2.w2
  LEFT JOIN cbi ON t.w2 = cbi.w2 AND t.w3 = cbi.w3
  LEFT JOIN ctx1 ON t.w2 = ctx1.w2
  LEFT JOIN cuni ON t.w3 = cuni.w3
  CROSS JOIN tot CROSS JOIN voc
),
s1 AS (
  SELECT *,
         (GREATEST(CAST(cuc AS DOUBLE) - 0.75, 0.0) / b)
         + (((0.75 * w1p) / b) * (1.0 / (v + 1.0))) AS p1
  FROM joined
),
s2 AS (
  SELECT *,
         CASE WHEN cx1 IS NULL THEN p1
              ELSE (GREATEST(CAST(ccc AS DOUBLE) - 0.75, 0.0)
                    / CAST(cx1 AS DOUBLE))
                   + (((0.75 * CAST(n1 AS DOUBLE))
                       / CAST(cx1 AS DOUBLE)) * p1)
         END AS p2
  FROM s1
),
s3 AS (
  SELECT doc_id, pos,
         LN(CASE WHEN c12 IS NULL THEN p2
                 ELSE (GREATEST(CAST(c3c AS DOUBLE) - 0.75, 0.0)
                       / CAST(c12 AS DOUBLE))
                      + (((0.75 * CAST(n12 AS DOUBLE))
                          / CAST(c12 AS DOUBLE)) * p2)
            END) AS logp
  FROM s2
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         list_aggregate(list(logp ORDER BY pos), 'sum') AS total
  FROM s3 GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_trigrams, 0) AS n_trigrams,
       ROUND(total / per.n_trigrams, 6) AS avg_logp,
       ROUND(EXP(-(total / per.n_trigrams)), 6) AS ppl_proxy
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
        # round 12: MODIFIED Kneser-Ney — the text_kn_score chain with
        # per-context N1/N2/N3+ bucket counts, the 1-row count-of-count
        # scalars, the Chen-Goodman Y/D1/D2/D3+ formulas as a chained
        # CTE (identical IEEE evaluation order to the engine), and the
        # CASE-selected discount + bucket-weighted back-off mass
        "text_kn_modified": f"""
WITH {_TOK_CTE},
tri0 AS (
  SELECT doc_id, pos, word AS w1,
         lead(word) OVER w AS w2,
         lead(word, 2) OVER w AS w3
  FROM tok
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
tri AS (SELECT doc_id, pos, w1, w2, w3 FROM tri0 WHERE w3 IS NOT NULL),
c3 AS (
  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3 FROM tri GROUP BY 1, 2, 3
),
ctx2 AS (
  SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c12,
         CAST(COUNT(*) AS BIGINT) AS n12,
         CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS j1,
         CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS j2,
         CAST(SUM(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS j3p
  FROM c3 GROUP BY 1, 2
),
cbi AS (
  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cc FROM c3 GROUP BY 1, 2
),
ctx1 AS (
  SELECT w2, CAST(SUM(cc) AS BIGINT) AS cx1,
         CAST(COUNT(*) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(SUM(CASE WHEN cc >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3p
  FROM cbi GROUP BY 1
),
cuni AS (
  SELECT w3, CAST(COUNT(*) AS BIGINT) AS cu FROM cbi GROUP BY 1
),
coc3 AS (
  SELECT CAST(SUM(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS t1,
         CAST(SUM(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS t2,
         CAST(SUM(CASE WHEN c3 = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS t3,
         CAST(SUM(CASE WHEN c3 = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS t4
  FROM c3
),
coc2 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS b,
         CAST(SUM(CASE WHEN cc = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS b1,
         CAST(SUM(CASE WHEN cc = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS b2,
         CAST(SUM(CASE WHEN cc = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS b3,
         CAST(SUM(CASE WHEN cc = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS b4
  FROM cbi
),
coc1 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS w1p,
         CAST(SUM(CASE WHEN cu = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS u1,
         CAST(SUM(CASE WHEN cu = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS u2,
         CAST(SUM(CASE WHEN cu = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS u3,
         CAST(SUM(CASE WHEN cu = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS u4,
         CAST(SUM(CASE WHEN cu >= 3 THEN 1 ELSE 0 END) AS DOUBLE) AS u3p
  FROM cuni
),
voc AS (SELECT CAST(COUNT(DISTINCT word) AS DOUBLE) AS v FROM tok),
ys AS (
  SELECT *,
         t1 / NULLIF(t1 + 2.0 * t2, 0.0) AS y3,
         b1 / NULLIF(b1 + 2.0 * b2, 0.0) AS y2,
         u1 / NULLIF(u1 + 2.0 * u2, 0.0) AS y1
  FROM coc3, coc2, coc1, voc
),
rawd AS (
  SELECT *,
         1.0 - 2.0 * y3 * (t2 / NULLIF(t1, 0.0)) AS r13,
         2.0 - 3.0 * y3 * (t3 / NULLIF(t2, 0.0)) AS r23,
         3.0 - 4.0 * y3 * (t4 / NULLIF(t3, 0.0)) AS r33,
         1.0 - 2.0 * y2 * (b2 / NULLIF(b1, 0.0)) AS r12,
         2.0 - 3.0 * y2 * (b3 / NULLIF(b2, 0.0)) AS r22,
         3.0 - 4.0 * y2 * (b4 / NULLIF(b3, 0.0)) AS r32,
         1.0 - 2.0 * y1 * (u2 / NULLIF(u1, 0.0)) AS r11,
         2.0 - 3.0 * y1 * (u3 / NULLIF(u2, 0.0)) AS r21,
         3.0 - 4.0 * y1 * (u4 / NULLIF(u3, 0.0)) AS r31
  FROM ys
),
okf AS (
  SELECT *,
         COALESCE(t1 > 0 AND t2 > 0 AND t3 > 0
                  AND r13 >= 0.0 AND r13 <= 1.0
                  AND r23 >= 0.0 AND r23 <= 2.0
                  AND r33 >= 0.0 AND r33 <= 3.0, FALSE) AS ok3,
         COALESCE(b1 > 0 AND b2 > 0 AND b3 > 0
                  AND r12 >= 0.0 AND r12 <= 1.0
                  AND r22 >= 0.0 AND r22 <= 2.0
                  AND r32 >= 0.0 AND r32 <= 3.0, FALSE) AS ok2,
         COALESCE(u1 > 0 AND u2 > 0 AND u3 > 0
                  AND r11 >= 0.0 AND r11 <= 1.0
                  AND r21 >= 0.0 AND r21 <= 2.0
                  AND r31 >= 0.0 AND r31 <= 3.0, FALSE) AS ok1
  FROM rawd
),
ds AS (
  SELECT *,
         CASE WHEN ok3 THEN r13 ELSE 0.5 END AS d13,
         CASE WHEN ok3 THEN r23 ELSE 1.0 END AS d23,
         CASE WHEN ok3 THEN r33 ELSE 1.5 END AS d33,
         CASE WHEN ok2 THEN r12 ELSE 0.5 END AS d12,
         CASE WHEN ok2 THEN r22 ELSE 1.0 END AS d22,
         CASE WHEN ok2 THEN r32 ELSE 1.5 END AS d32,
         CASE WHEN ok1 THEN r11 ELSE 0.5 END AS d11,
         CASE WHEN ok1 THEN r21 ELSE 1.0 END AS d21,
         CASE WHEN ok1 THEN r31 ELSE 1.5 END AS d31
  FROM okf
),
tot AS (SELECT *, d11 * u1 + d21 * u2 + d31 * u3p AS g1 FROM ds),
joined AS (
  SELECT t.doc_id, t.pos,
         COALESCE(c3.c3, 0) AS c3c, ctx2.c12, ctx2.n12,
         ctx2.j1, ctx2.j2, ctx2.j3p,
         COALESCE(cbi.cc, 0) AS ccc, ctx1.cx1, ctx1.n1,
         ctx1.k1, ctx1.k2, ctx1.k3p,
         COALESCE(cuni.cu, 0) AS cuc, tot.*
  FROM tri t
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
  LEFT JOIN ctx2 ON t.w1 = ctx2.w1 AND t.w2 = ctx2.w2
  LEFT JOIN cbi ON t.w2 = cbi.w2 AND t.w3 = cbi.w3
  LEFT JOIN ctx1 ON t.w2 = ctx1.w2
  LEFT JOIN cuni ON t.w3 = cuni.w3
  CROSS JOIN tot
),
s1 AS (
  SELECT *,
         (GREATEST(CAST(cuc AS DOUBLE)
                   - (CASE WHEN cuc >= 3 THEN d31
                           WHEN cuc = 2 THEN d21 ELSE d11 END), 0.0) / b)
         + ((g1 / b) * (1.0 / (v + 1.0))) AS p1
  FROM joined
),
s2 AS (
  SELECT *,
         CASE WHEN cx1 IS NULL THEN p1
              ELSE (GREATEST(CAST(ccc AS DOUBLE)
                             - (CASE WHEN ccc >= 3 THEN d32
                                     WHEN ccc = 2 THEN d22 ELSE d12 END), 0.0)
                    / CAST(cx1 AS DOUBLE))
                   + (((d12 * CAST(k1 AS DOUBLE)
                        + d22 * CAST(k2 AS DOUBLE)
                        + d32 * CAST(k3p AS DOUBLE))
                       / CAST(cx1 AS DOUBLE)) * p1)
         END AS p2
  FROM s1
),
s3 AS (
  SELECT doc_id, pos,
         LN(CASE WHEN c12 IS NULL THEN p2
                 ELSE (GREATEST(CAST(c3c AS DOUBLE)
                                - (CASE WHEN c3c >= 3 THEN d33
                                        WHEN c3c = 2 THEN d23 ELSE d13 END), 0.0)
                       / CAST(c12 AS DOUBLE))
                      + (((d13 * CAST(j1 AS DOUBLE)
                           + d23 * CAST(j2 AS DOUBLE)
                           + d33 * CAST(j3p AS DOUBLE))
                          / CAST(c12 AS DOUBLE)) * p2)
            END) AS logp
  FROM s2
),
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         list_aggregate(list(logp ORDER BY pos), 'sum') AS total
  FROM s3 GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_trigrams, 0) AS n_trigrams,
       ROUND(total / per.n_trigrams, 6) AS avg_logp,
       ROUND(EXP(-(total / per.n_trigrams)), 6) AS ppl_proxy
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
""",
        # round 4c: LSH candidates scored by Jaccard AND max-containment,
        # kept on containment — same CTE chain as dedup_verified
        "dedup_containment": f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
keep AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.25),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT k.doc_a, k.doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM keep k
  JOIN sh a ON a.doc_id = k.doc_a
  JOIN sh b ON b.doc_id = k.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
),
scored AS (
  SELECT k.doc_a, k.doc_b,
         ROUND(CAST(COALESCE(n_inter, 0) AS DOUBLE)
               / (x.n_sh + y.n_sh - COALESCE(n_inter, 0)), 6) AS jaccard,
         ROUND(CAST(COALESCE(n_inter, 0) AS DOUBLE)
               / LEAST(x.n_sh, y.n_sh), 6) AS containment
  FROM keep k
  LEFT JOIN inter ON k.doc_a = inter.doc_a AND k.doc_b = inter.doc_b
  JOIN sizes x ON k.doc_a = x.doc_id
  JOIN sizes y ON k.doc_b = y.doc_id
)
SELECT * FROM scored WHERE containment >= 0.5
""",
        # round 4c: per-order recomputed totals fold in (linenumber,
        # amount) order on both engines; max/counts are order-independent
        "audit_orders_reconcile": """
WITH t AS (
  SELECT l_orderkey,
         list_aggregate(
           list(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                ORDER BY l_linenumber,
                         l_extendedprice * (1 - l_discount) * (1 + l_tax)),
           'sum') AS recomputed,
         CAST(COUNT(*) AS BIGINT) AS nc
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o_orderstatus,
         COALESCE(nc, 0) AS nc,
         ABS(COALESCE(recomputed, 0.0) - o_totalprice) AS gap,
         CASE WHEN o_totalprice != 0
              THEN ABS(COALESCE(recomputed, 0.0) - o_totalprice) / ABS(o_totalprice)
              END AS rel
  FROM orders o LEFT JOIN t ON o.o_orderkey = t.l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_parents,
       CAST(SUM(CASE WHEN nc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless,
       CAST(SUM(CASE WHEN gap <= 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN rel <= 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
       CAST(SUM(CASE WHEN rel <= 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_10pct,
       ROUND(MAX(gap), 6) AS max_abs_gap
FROM j GROUP BY 1
""",
        # round 4c: median/MAD outlier audit; 4.4478 is the ONE literal
        # cutoff both engines multiply (never 3 * 1.4826 separately)
        "events_mad_outliers": """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, ABS(e.value - m.med) AS dev, m.med AS med
  FROM events e JOIN med m USING (event_type)
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MIN(med) AS med,
         quantile_cont(dev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT s.event_type, s.n,
       ROUND(s.med, 6) AS median,
       ROUND(s.mad, 6) AS mad,
       CAST(SUM(CASE WHEN d.dev > 4.4478 * s.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN stats s USING (event_type)
GROUP BY s.event_type, s.n, s.med, s.mad
""",
        # round 4c: the salted join is row-identical to the plain join by
        # construction, so the oracle IS the plain join + summary
        "events_salted_join": """
WITH dim AS (
  SELECT event_type, MAX(value) AS vmax, CAST(COUNT(*) AS BIGINT) AS n_type
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(d.n_type) AS n_type,
       CAST(SUM(CASE WHEN e.value > d.vmax / 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_above_half,
       ROUND(MIN(d.vmax), 6) AS vmax
FROM events e JOIN dim d USING (event_type)
GROUP BY 1
""",
    }
    # the histogram-narrowed exact quantile must equal quantile_cont
    # bit-for-bit, so the oracle is identical to cur_quality_calibrated's
    o["cur_quality_exact_pctile"] = o["cur_quality_calibrated"]
    # round 4c evaluation harnesses: the oracles COMPOSE the already-
    # verified truth/candidate oracles as nested subqueries, so the
    # comparison itself is the only new SQL under test
    o["dedup_lsh_recall"] = f"""
WITH truth AS ({o["dedup_ngram_jaccard"]}),
cand AS ({o["dedup_minhash_lsh"]}),
j AS (
  SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
         COALESCE(t.doc_b, c.doc_b) AS doc_b,
         CASE WHEN t.doc_a IS NOT NULL THEN 1 END AS _t,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 END AS _c
  FROM truth t FULL OUTER JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(SUM(_t) AS BIGINT) AS n_truth,
       CAST(SUM(_c) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1 END) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1 END) AS DOUBLE)
             / SUM(_t), 6) AS recall,
       ROUND(CAST(SUM(CASE WHEN _t IS NOT NULL AND _c IS NOT NULL THEN 1 END) AS DOUBLE)
             / SUM(_c), 6) AS precision
FROM j
"""
    o["sim_ann_recall"] = f"""
WITH truth AS ({o["sim_cosine_topk"]}),
approx AS ({o["sim_lsh_topk"]}),
per_q AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM truth t
  LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
),
napp AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx GROUP BY 1)
SELECT p.q_id, p.n_truth, COALESCE(n.n_approx, 0) AS n_approx, p.n_hit,
       ROUND(CAST(p.n_hit AS DOUBLE) / p.n_truth, 6) AS recall
FROM per_q p LEFT JOIN napp n ON p.q_id = n.q_id
"""
    # round 5: PQ recall — same harness SQL, approx = the PQ oracle.
    # (Defined later in this function, after o["sim_pq_topk"] exists —
    # see the assignment below the PQ oracle block.)
    o["events_two_phase_agg"] = """
SELECT event_type,
       MAX(value) AS max_value,
       CAST(COUNT(event_id) AS BIGINT) AS count_event_id,
       MIN(user_id) AS min_user_id
FROM events GROUP BY 1
"""
    # first-order Markov transitions: lead() over the (ts, event_id)
    # per-user order, exact BIGINT counts, p = one division
    o["events_markov"] = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events
),
pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS to_type
  FROM ev
),
c AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
t AS (
  SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
  FROM c GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_transitions, t.n_from,
       ROUND(CAST(c.n_transitions AS DOUBLE) / t.n_from, 6) AS p
FROM c JOIN t USING (from_type)
"""
    # Benford: digits from EXACT integer cents (float log10 digit
    # extraction sits on ulp knife-edges at powers of 10)
    o["lineitem_benford"] = """
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
p AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
  FROM v WHERE cents > 0
),
c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / total, 6) AS freq,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS expected_freq,
       ROUND(POW(n - total * LOG10(1.0 + 1.0 / digit), 2)
             / (total * LOG10(1.0 + 1.0 / digit)), 6) AS chi2_term
FROM c CROSS JOIN t
"""
    # RFM: monetary folds in (date, key) order; quartile thresholds via
    # quantile_cont (same interpolation as Spark percentile); scores are
    # strict-greater integer comparisons
    o["customer_rfm"] = """
WITH per AS (
  SELECT o_custkey AS customer,
         MAX(CAST(o_orderdate AS DATE)) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         list_aggregate(
           list(CAST(o_totalprice AS DOUBLE)
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           'sum') AS monetary
  FROM orders GROUP BY 1
),
g AS (SELECT MAX(last_d) AS gmax FROM per),
m AS (
  SELECT customer,
         CAST(gmax - last_d AS BIGINT) AS recency_days,
         frequency, monetary
  FROM per CROSS JOIN g
),
q AS (
  -- thresholds + compared metrics rounded to 6 on BOTH engines (ADVICE
  -- r4): quantile_cont's v0+d*(v1-v0) vs Spark percentile's
  -- (hi-pos)*v0+(pos-lo)*v1 can differ by 1 ulp and the strict > would
  -- flip an on-threshold metric
  SELECT ROUND(quantile_cont(CAST(recency_days AS DOUBLE), 0.25), 6) AS r0,
         ROUND(quantile_cont(CAST(recency_days AS DOUBLE), 0.5), 6)  AS r1,
         ROUND(quantile_cont(CAST(recency_days AS DOUBLE), 0.75), 6) AS r2,
         ROUND(quantile_cont(CAST(frequency AS DOUBLE), 0.25), 6) AS f0,
         ROUND(quantile_cont(CAST(frequency AS DOUBLE), 0.5), 6)  AS f1,
         ROUND(quantile_cont(CAST(frequency AS DOUBLE), 0.75), 6) AS f2,
         ROUND(quantile_cont(monetary, 0.25), 6) AS m0,
         ROUND(quantile_cont(monetary, 0.5), 6)  AS m1,
         ROUND(quantile_cont(monetary, 0.75), 6) AS m2
  FROM m
)
SELECT customer, recency_days, frequency, ROUND(monetary, 6) AS monetary,
       CAST(1 + (ROUND(CAST(recency_days AS DOUBLE), 6) > r0)::INT
              + (ROUND(CAST(recency_days AS DOUBLE), 6) > r1)::INT
              + (ROUND(CAST(recency_days AS DOUBLE), 6) > r2)::INT AS INT) AS r_score,
       CAST(1 + (ROUND(CAST(frequency AS DOUBLE), 6) > f0)::INT
              + (ROUND(CAST(frequency AS DOUBLE), 6) > f1)::INT
              + (ROUND(CAST(frequency AS DOUBLE), 6) > f2)::INT AS INT) AS f_score,
       CAST(1 + (ROUND(monetary, 6) > m0)::INT + (ROUND(monetary, 6) > m1)::INT
              + (ROUND(monetary, 6) > m2)::INT AS INT) AS m_score
FROM m CROSS JOIN q
"""
    # cluster quality: same assignment CTE as sim_semantic_dedup, member
    # cosines rounded BEFORE aggregation, mean folded in vec_id order
    o["sim_cluster_quality"] = f"""
WITH {_VEC_CTE},
cents AS (SELECT vec_id AS cent_id, vec AS c_vec, nrm AS c_nrm FROM nv WHERE vec_id < 16),
asg AS (
  SELECT vec_id, vec, nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1),
per AS (
  SELECT i.cent_id, i.vec_id,
         ROUND(list_dot_product(i.vec, c.c_vec) / (i.nrm * c.c_nrm), 6) AS cos
  FROM idx i JOIN cents c USING (cent_id)
),
agg AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         ROUND(list_aggregate(list(cos ORDER BY vec_id), 'sum') / COUNT(*), 6) AS mean_cos,
         ROUND(MIN(cos), 6) AS min_cos
  FROM per GROUP BY 1
),
t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM agg)
SELECT cent_id, n_vectors, mean_cos, min_cos,
       ROUND(CAST(n_vectors AS DOUBLE) / total, 6) AS share
FROM agg CROSS JOIN t
"""
    o["events_value_p90_hist"] = """
SELECT event_type, ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events WHERE value IS NOT NULL GROUP BY 1
"""
    o["part_cheapest_supplier"] = """
WITH ranked AS (
  SELECT l_partkey, l_suppkey, CAST(l_extendedprice AS DOUBLE) AS price,
         ROW_NUMBER() OVER (PARTITION BY l_partkey
           ORDER BY CAST(l_extendedprice AS DOUBLE) ASC, l_suppkey ASC) AS rn
  FROM lineitem
),
counts AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_offers FROM lineitem GROUP BY 1),
best AS (
  SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
         ROUND(price, 6) AS best_price
  FROM ranked WHERE rn = 1
)
SELECT b.p_partkey, p.p_brand, c.n_offers, b.best_price, b.s_suppkey,
       s.s_name, n.n_name AS nation
FROM best b
JOIN part p USING (p_partkey)
JOIN counts c ON c.l_partkey = b.p_partkey
JOIN supplier s ON s.s_suppkey = b.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""
    o["events_stickiness"] = """
WITH d AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
),
rng AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM d),
dau AS (
  SELECT day AS window_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM d GROUP BY 1
),
o28 AS (SELECT unnest(range(28)) AS off),
e AS (SELECT user_id, day + off AS window_end FROM d CROSS JOIN o28),
mau AS (
  SELECT window_end, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
  FROM e CROSS JOIN rng
  WHERE window_end >= rng.mn AND window_end <= rng.mx
  GROUP BY 1
)
SELECT window_end, dau.dau, mau.mau,
       ROUND(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
FROM dau JOIN mau USING (window_end)
"""
    o["star_local_supplier_volume"] = """
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_nationkey = s.s_nationkey
GROUP BY 1
"""
    # round 5: Gopher rule battery — every ratio rounded to 6 BEFORE the
    # threshold comparison, mirroring text.gopher_rules exactly
    _stop = ", ".join(repr(w) for w in tx.GOPHER_STOPWORDS)
    o["text_gopher_rules"] = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         ROUND(CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE) / len(toks), 6) AS mean_word_len,
         ROUND((CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
                + CAST(length(text) - length(replace(text, '...', '')) AS DOUBLE) / 3
                + CAST(length(text) - length(replace(text, '…', '')) AS DOUBLE)) / len(toks), 6) AS symbol_ratio,
         ROUND(CAST(len(list_filter(lines, x -> starts_with(x, '•') OR starts_with(x, '- ') OR starts_with(x, '* '))) AS DOUBLE) / len(lines), 6) AS bullet_ratio,
         ROUND(CAST(len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, '…'))) AS DOUBLE) / len(lines), 6) AS ellipsis_ratio,
         ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(toks), 6) AS alpha_word_ratio,
         CAST(len(list_intersect(list_distinct(toks), [{_stop}])) AS BIGINT) AS n_stop_hits
  FROM t
),
r AS (
  SELECT *,
         CAST(CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS INT) AS r_word_count,
         CAST(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END AS INT) AS r_mean_word_len,
         CAST(CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS INT) AS r_symbol,
         CAST(CASE WHEN bullet_ratio <= 0.9 THEN 1 ELSE 0 END AS INT) AS r_bullet,
         CAST(CASE WHEN ellipsis_ratio <= 0.3 THEN 1 ELSE 0 END AS INT) AS r_ellipsis,
         CAST(CASE WHEN alpha_word_ratio >= 0.8 THEN 1 ELSE 0 END AS INT) AS r_alpha_words,
         CAST(CASE WHEN n_stop_hits >= {tx.GOPHER_MIN_STOP_HITS} THEN 1 ELSE 0 END AS INT) AS r_stopwords
  FROM m
)
SELECT *,
       CAST(r_word_count * r_mean_word_len * r_symbol * r_bullet * r_ellipsis
            * r_alpha_words * r_stopwords AS INT) AS keep
FROM r
"""
    # round 5: PQ/ADC — literal codebooks from the module LCG; encode arms
    # UNION per subspace (round-6 dists, list_position first-min argmin ==
    # Spark array_position), LUT via zipped unnest/generate_subscripts,
    # per-pair score folded in subspace order
    _pq_code_arms = []
    _pq_lut_arms = []
    for _s in range(sim.N_PQ_SUB):
        _dists = []
        _parts = []
        for _c in range(sim.N_PQ_CENTROIDS):
            _cb = sim.pq_codebook(_s, _c)
            _d = " + ".join(
                f"(vec[{_s * sim.PQ_SUB_DIM + _d2 + 1}] - {_cb[_d2]!r})"
                f" * (vec[{_s * sim.PQ_SUB_DIM + _d2 + 1}] - {_cb[_d2]!r})"
                for _d2 in range(sim.PQ_SUB_DIM)
            )
            _dists.append(f"ROUND({_d}, 6)")
            _p = " + ".join(
                f"vec[{_s * sim.PQ_SUB_DIM + _d2 + 1}] * {_cb[_d2]!r}"
                for _d2 in range(sim.PQ_SUB_DIM)
            )
            _parts.append(f"({_p})")
        _dl = "[" + ", ".join(_dists) + "]"
        _pq_code_arms.append(f"""
  SELECT vec_id, {_s} AS s,
         CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS code
  FROM (SELECT vec_id, {_dl} AS dl FROM nv)""")
        _pl = "[" + ", ".join(_parts) + "]"
        _pq_lut_arms.append(f"""
  SELECT q_id, {_s} AS s,
         CAST(generate_subscripts({_pl}, 1) - 1 AS INT) AS code,
         unnest({_pl}) AS partial
  FROM pqq""")
    o["sim_pq_topk"] = (
        f"WITH {_VEC_CTE.strip()},\n"
        + "codes AS (" + "\n  UNION ALL".join(_pq_code_arms) + "\n),\n"
        + "pqq AS (SELECT vec_id AS q_id, vec FROM nv WHERE vec_id < 10),\n"
        + "lut AS (" + "\n  UNION ALL".join(_pq_lut_arms) + "\n),\n"
        + """est AS (
  SELECT lut.q_id, codes.vec_id,
         ROUND(list_aggregate(list(partial ORDER BY s), 'sum'), 6) AS score
  FROM codes JOIN lut USING (s, code)
  WHERE codes.vec_id != lut.q_id
  GROUP BY 1, 2
)
SELECT q_id, vec_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM est
) WHERE rn <= 5
"""
    )
    # round 5: IVF-PQ — the IVF cell chain bounds candidates, the PQ
    # code/LUT chain scores them (same arm strings as sim_pq_topk)
    o["sim_ivf_pq_topk"] = (
        f"WITH {_VEC_CTE.strip()},\n"
        + """cents AS (SELECT vec_id AS cent_id, vec AS c_vec, nrm AS c_nrm FROM nv WHERE vec_id < 16),
asg AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
pr AS (
  SELECT q_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT q_id, cent_id FROM pr WHERE rn <= 4),
cand AS (
  SELECT q_id, idx.vec_id FROM idx JOIN probes USING (cent_id)
  WHERE idx.vec_id != q_id
),
"""
        + "codes AS (" + "\n  UNION ALL".join(_pq_code_arms) + "\n),\n"
        + "pqq AS (SELECT vec_id AS q_id, vec FROM nv WHERE vec_id < 10),\n"
        + "lut AS (" + "\n  UNION ALL".join(_pq_lut_arms) + "\n),\n"
        + """est AS (
  SELECT cand.q_id, cand.vec_id,
         ROUND(list_aggregate(list(partial ORDER BY codes.s), 'sum'), 6) AS score
  FROM cand
  JOIN codes ON codes.vec_id = cand.vec_id
  JOIN lut ON lut.q_id = cand.q_id AND lut.s = codes.s AND lut.code = codes.code
  GROUP BY 1, 2
)
SELECT q_id, vec_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rn
  FROM est
) WHERE rn <= 5
"""
    )
    # round 5: PQ recall@k — harness SQL with approx = the PQ oracle
    o["sim_pq_recall"] = f"""
WITH truth AS ({o["sim_cosine_topk"]}),
approx AS ({o["sim_pq_topk"]}),
per_q AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM truth t
  LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
),
napp AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx GROUP BY 1)
SELECT p.q_id, p.n_truth, COALESCE(n.n_approx, 0) AS n_approx, p.n_hit,
       ROUND(CAST(p.n_hit AS DOUBLE) / p.n_truth, 6) AS recall
FROM per_q p LEFT JOIN napp n ON p.q_id = n.q_id
"""
    # round 6: TRAINED PQ — fixed-round Lloyd's per subspace, unrolled
    # like _power_iter_sql: seeds = the 16 smallest vec_ids' subvectors,
    # assignment dist = round6 8-term left-assoc fold with (d, c)
    # tiebreak, centroid update = per-dim vec_id-ordered sums / n
    # rounded to 6 (bit-identical to the engine's sorted-struct array
    # fold), empty clusters keep their previous position via
    # LEFT JOIN + COALESCE on both engines.
    def _pq_dist(x: str, w: str, dims: int = sim.PQ_SUB_DIM) -> str:
        return " + ".join(
            f"({x}[{d}] - {w}[{d}]) * ({x}[{d}] - {w}[{d}])"
            for d in range(1, dims + 1)
        )

    def _pq_dot(x: str, w: str) -> str:
        return " + ".join(
            f"{x}[{d}] * {w}[{d}]" for d in range(1, sim.PQ_SUB_DIM + 1)
        )

    def _pq_trained_blocks(
        n_train: int = 256, n_iter: int = 2, n_queries: int = 10
    ) -> str:
        """CTE blocks `sub, tr, cb0..cbN, codes, lut` (no _VEC_CTE, no
        final select) — shared by sim_pq_trained_topk and the composed
        sim_ivf_pq_trained_topk."""
        mean_dims = ", ".join(
            f"ROUND(list_aggregate(list(x[{d}] ORDER BY vec_id), 'sum')"
            f" / CAST(COUNT(*) AS DOUBLE), 6)"
            for d in range(1, sim.PQ_SUB_DIM + 1)
        )
        rounds = []
        for i in range(1, n_iter + 1):
            rounds.append(f""",
asg{i} AS (
  SELECT vec_id, tr.s, x, c, ROUND({_pq_dist('x', 'w')}, 6) AS d
  FROM tr JOIN cb{i - 1} ON tr.s = cb{i - 1}.s
),
best{i} AS (
  SELECT vec_id, s, x, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, c ASC) AS rn
    FROM asg{i}) WHERE rn = 1
),
upd{i} AS (
  SELECT s, c, [{mean_dims}] AS w_new FROM best{i} GROUP BY s, c
),
cb{i} AS MATERIALIZED (
  SELECT cb.s, cb.c, COALESCE(u.w_new, cb.w) AS w
  FROM cb{i - 1} cb LEFT JOIN upd{i} u ON cb.s = u.s AND cb.c = u.c
)""")
        return (
            f"""sub AS MATERIALIZED (
  SELECT vec_id, CAST(ss.s AS INT) AS s,
         list_slice(vec, CAST(ss.s * {sim.PQ_SUB_DIM} + 1 AS INT),
                    CAST(ss.s * {sim.PQ_SUB_DIM} + {sim.PQ_SUB_DIM} AS INT)) AS x
  FROM nv CROSS JOIN (SELECT unnest(range({sim.N_PQ_SUB})) AS s) ss
),
tr AS MATERIALIZED (SELECT * FROM sub WHERE vec_id < {n_train}),
cb0 AS MATERIALIZED (
  SELECT s, CAST(vec_id AS INT) AS c, x AS w
  FROM tr WHERE vec_id < {sim.N_PQ_CENTROIDS}
)"""
            + "".join(rounds)
            + f""",
codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT sub.vec_id, sub.s, cb.c,
           ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.s
             ORDER BY ROUND({_pq_dist('x', 'w')}, 6) ASC, cb.c ASC) AS rn
    FROM sub JOIN cb{n_iter} cb ON sub.s = cb.s) WHERE rn = 1
),
lut AS (
  SELECT sub.vec_id AS q_id, sub.s, cb.c AS code,
         {_pq_dot('x', 'w')} AS partial
  FROM sub JOIN cb{n_iter} cb ON sub.s = cb.s
  WHERE sub.vec_id < {n_queries}
)"""
        )

    def _pq_trained_topk_sql(
        n_train: int = 256, n_iter: int = 2, n_queries: int = 10, k: int = 5
    ) -> str:
        return (
            f"WITH {_VEC_CTE.strip()},\n"
            + _pq_trained_blocks(n_train, n_iter, n_queries)
            + f""",
est AS (
  SELECT lut.q_id, codes.vec_id,
         ROUND(list_aggregate(list(partial ORDER BY codes.s), 'sum'), 6) AS score
  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
  WHERE codes.vec_id != lut.q_id
  GROUP BY 1, 2
)
SELECT q_id, vec_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score DESC, vec_id ASC) AS rn
  FROM est) WHERE rn <= {k}
"""
        )

    o["sim_pq_trained_topk"] = _pq_trained_topk_sql()

    # round 6: full-vector fixed-round Lloyd's (kmeans_train_fixed's
    # twin) feeding the UNCHANGED IVF chain — trained IVF, exactly
    # oracle-checked.  Same exactness rules as the PQ trainer, dim=64.
    def _kmeans_cents_sql(
        k: int = 16, n_train: int = 256, n_iter: int = 2
    ) -> str:
        dim = sim.EMB_DIM
        mean_dims = ", ".join(
            f"ROUND(list_aggregate(list(x[{d}] ORDER BY vec_id), 'sum')"
            f" / CAST(COUNT(*) AS DOUBLE), 6)"
            for d in range(1, dim + 1)
        )
        blocks = [
            f"""ktr AS MATERIALIZED (
  SELECT vec_id, 0 AS s, vec AS x FROM nv WHERE vec_id < {n_train}
),
kcb0 AS (SELECT s, CAST(vec_id AS INT) AS c, x AS w FROM ktr WHERE vec_id < {k})"""
        ]
        for i in range(1, n_iter + 1):
            blocks.append(f"""kasg{i} AS (
  SELECT vec_id, ktr.s, x, c, ROUND({_pq_dist('x', 'w', dim)}, 6) AS d
  FROM ktr JOIN kcb{i - 1} ON ktr.s = kcb{i - 1}.s
),
kbest{i} AS (
  SELECT vec_id, s, x, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, c ASC) AS rn
    FROM kasg{i}) WHERE rn = 1
),
kupd{i} AS (
  SELECT s, c, [{mean_dims}] AS w_new FROM kbest{i} GROUP BY s, c
),
kcb{i} AS MATERIALIZED (
  SELECT cb.s, cb.c, COALESCE(u.w_new, cb.w) AS w
  FROM kcb{i - 1} cb LEFT JOIN kupd{i} u ON cb.s = u.s AND cb.c = u.c
)""")
        blocks.append(f"""cents AS (
  SELECT CAST(c AS BIGINT) AS cent_id, w AS c_vec,
         sqrt(list_aggregate(list_transform(w, x -> x * x), 'sum')) AS c_nrm
  FROM kcb{n_iter}
)""")
        return ",\n".join(blocks)

    o["sim_ivf_trained_topk"] = f"""
WITH {_VEC_CTE.strip()},
{_kmeans_cents_sql()},
asg AS (
  SELECT vec_id, vec, nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
pr AS (
  SELECT q_id, q_vec, q_nrm, cent_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT q_id, q_vec, q_nrm, cent_id FROM pr WHERE rn <= 4),
s AS (
  SELECT q_id, idx.vec_id,
         ROUND(list_dot_product(idx.vec, q_vec) / (idx.nrm * q_nrm), 6) AS cosine
  FROM idx JOIN probes USING (cent_id)
  WHERE idx.vec_id != q_id
),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn FROM s)
SELECT q_id, vec_id, cosine FROM r WHERE rn <= 5
"""
    # round 6: fully trained IVF-PQ — the kmeans cell CTEs (k-prefixed)
    # and the trained-PQ code/LUT CTEs compose with the IVF-PQ candidate
    # chain; every stage mirrors the engine exactly
    o["sim_ivf_pq_trained_topk"] = f"""
WITH {_VEC_CTE.strip()},
{_pq_trained_blocks()},
{_kmeans_cents_sql()},
asg AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
pr AS (
  SELECT q_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT q_id, cent_id FROM pr WHERE rn <= 4),
cand AS (
  SELECT q_id, idx.vec_id FROM idx JOIN probes USING (cent_id)
  WHERE idx.vec_id != q_id
),
est AS (
  SELECT cand.q_id, cand.vec_id,
         ROUND(list_aggregate(list(partial ORDER BY codes.s), 'sum'), 6) AS score
  FROM cand
  JOIN codes ON codes.vec_id = cand.vec_id
  JOIN lut ON lut.q_id = cand.q_id AND lut.s = codes.s AND lut.code = codes.code
  GROUP BY 1, 2
)
SELECT q_id, vec_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score DESC, vec_id ASC) AS rn
  FROM est) WHERE rn <= 5
"""
    # round 12: RESIDUAL IVF-PQ — the same kmeans cell CTEs feed a
    # residual stream (vec - assigned c_vec, exact IEEE subtraction of
    # the round6-trained centroid dims), the SAME r-prefixed unrolled
    # Lloyd rounds train codebooks on it, and scoring adds the exact
    # per-cell q·c term to the s-ordered ADC fold before the single
    # final round6 (engine: similarity.ivf_pq_residual_topk)
    def _pq_residual_blocks(
        n_train: int = 256, n_iter: int = 2, n_queries: int = 10
    ) -> str:
        """CTE blocks `rsub, rtr, rcb0..rcbN, rcodes, qsub, rlut` —
        assumes `nv`, `cents`, `idx` (vec_id, cent_id) are in scope."""
        sd = sim.PQ_SUB_DIM
        mean_dims = ", ".join(
            f"ROUND(list_aggregate(list(x[{d}] ORDER BY vec_id), 'sum')"
            f" / CAST(COUNT(*) AS DOUBLE), 6)"
            for d in range(1, sd + 1)
        )
        rounds = []
        for i in range(1, n_iter + 1):
            rounds.append(f""",
rasg{i} AS (
  SELECT vec_id, rtr.s, x, c, ROUND({_pq_dist('x', 'w')}, 6) AS d
  FROM rtr JOIN rcb{i - 1} ON rtr.s = rcb{i - 1}.s
),
rbest{i} AS (
  SELECT vec_id, s, x, c FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                 ORDER BY d ASC, c ASC) AS rn
    FROM rasg{i}) WHERE rn = 1
),
rupd{i} AS (
  SELECT s, c, [{mean_dims}] AS w_new FROM rbest{i} GROUP BY s, c
),
rcb{i} AS MATERIALIZED (
  SELECT cb.s, cb.c, COALESCE(u.w_new, cb.w) AS w
  FROM rcb{i - 1} cb LEFT JOIN rupd{i} u ON cb.s = u.s AND cb.c = u.c
)""")
        return (
            f"""rsub AS MATERIALIZED (
  SELECT nv.vec_id, CAST(ss.s AS INT) AS s,
         list_transform(range(CAST(ss.s * {sd} + 1 AS BIGINT),
                              CAST(ss.s * {sd} + {sd + 1} AS BIGINT)),
                        d -> nv.vec[d] - c.c_vec[d]) AS x
  FROM nv
  JOIN idx ON nv.vec_id = idx.vec_id
  JOIN cents c ON idx.cent_id = c.cent_id
  CROSS JOIN (SELECT unnest(range({sim.N_PQ_SUB})) AS s) ss
),
rtr AS MATERIALIZED (SELECT * FROM rsub WHERE vec_id < {n_train}),
rcb0 AS MATERIALIZED (
  SELECT s, CAST(vec_id AS INT) AS c, x AS w
  FROM rtr WHERE vec_id < {sim.N_PQ_CENTROIDS}
)"""
            + "".join(rounds)
            + f""",
rcodes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT rsub.vec_id, rsub.s, cb.c,
           ROW_NUMBER() OVER (PARTITION BY rsub.vec_id, rsub.s
             ORDER BY ROUND({_pq_dist('x', 'w')}, 6) ASC, cb.c ASC) AS rn
    FROM rsub JOIN rcb{n_iter} cb ON rsub.s = cb.s) WHERE rn = 1
),
qsub AS (
  SELECT vec_id, CAST(ss.s AS INT) AS s,
         list_slice(vec, CAST(ss.s * {sd} + 1 AS INT),
                    CAST(ss.s * {sd} + {sd} AS INT)) AS x
  FROM nv CROSS JOIN (SELECT unnest(range({sim.N_PQ_SUB})) AS s) ss
  WHERE vec_id < {n_queries}
),
rlut AS (
  SELECT qsub.vec_id AS q_id, qsub.s, cb.c AS code,
         {_pq_dot('x', 'w')} AS partial
  FROM qsub JOIN rcb{n_iter} cb ON qsub.s = cb.s
)"""
        )

    o["sim_ivf_pq_residual_topk"] = f"""
WITH {_VEC_CTE.strip()},
{_kmeans_cents_sql()},
asg AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ROUND(list_dot_product(vec, c_vec) / (nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM nv, cents
),
idx AS (SELECT vec_id, cent_id FROM asg WHERE rn = 1),
{_pq_residual_blocks()},
q AS (SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM nv WHERE vec_id < 10),
pr AS (
  SELECT q_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY ROUND(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) DESC, cent_id ASC) AS rn
  FROM q, cents
),
probes AS (SELECT q_id, cent_id FROM pr WHERE rn <= 4),
qc AS (
  SELECT q_id, cent_id, list_dot_product(q_vec, c_vec) AS qc
  FROM q, cents
),
cand AS (
  SELECT q_id, idx.vec_id, idx.cent_id FROM idx JOIN probes USING (cent_id)
  WHERE idx.vec_id != q_id
),
est AS (
  SELECT cand.q_id, cand.vec_id, cand.cent_id,
         list_aggregate(list(partial ORDER BY rcodes.s), 'sum') AS rsum
  FROM cand
  JOIN rcodes ON rcodes.vec_id = cand.vec_id
  JOIN rlut ON rlut.q_id = cand.q_id AND rlut.s = rcodes.s AND rlut.code = rcodes.code
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT est.q_id, est.vec_id, ROUND(qc.qc + est.rsum, 6) AS score
  FROM est JOIN qc ON est.q_id = qc.q_id AND est.cent_id = qc.cent_id
)
SELECT q_id, vec_id, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY score DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= 5
"""
    o["sim_ivf_trained_recall"] = f"""
WITH truth AS ({o["sim_cosine_topk"]}),
approx AS ({o["sim_ivf_trained_topk"]}),
per_q AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM truth t
  LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
),
napp AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx GROUP BY 1)
SELECT p.q_id, p.n_truth, COALESCE(n.n_approx, 0) AS n_approx, p.n_hit,
       ROUND(CAST(p.n_hit AS DOUBLE) / p.n_truth, 6) AS recall
FROM per_q p LEFT JOIN napp n ON p.q_id = n.q_id
"""
    o["sim_pq_trained_recall"] = f"""
WITH truth AS ({o["sim_cosine_topk"]}),
approx AS ({o["sim_pq_trained_topk"]}),
per_q AS (
  SELECT t.q_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
         CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM truth t
  LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
),
napp AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_approx FROM approx GROUP BY 1)
SELECT p.q_id, p.n_truth, COALESCE(n.n_approx, 0) AS n_approx, p.n_hit,
       ROUND(CAST(p.n_hit AS DOUBLE) / p.n_truth, 6) AS recall
FROM per_q p LEFT JOIN napp n ON p.q_id = n.q_id
"""
    # round 5: gopher funnel — one aggregate over the rule battery
    o["text_gopher_funnel"] = f"""
WITH g AS ({o["text_gopher_rules"]})
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(1 - r_word_count) AS BIGINT) AS kill_word_count,
       CAST(SUM(1 - r_mean_word_len) AS BIGINT) AS kill_mean_word_len,
       CAST(SUM(1 - r_symbol) AS BIGINT) AS kill_symbol,
       CAST(SUM(1 - r_bullet) AS BIGINT) AS kill_bullet,
       CAST(SUM(1 - r_ellipsis) AS BIGINT) AS kill_ellipsis,
       CAST(SUM(1 - r_alpha_words) AS BIGINT) AS kill_alpha_words,
       CAST(SUM(1 - r_stopwords) AS BIGINT) AS kill_stopwords,
       CAST(SUM(keep) AS BIGINT) AS n_keep
FROM g
"""
    # round 5: DSIR — identical md5 buckets, exact integer counts, per-doc
    # fold in ascending bucket order (list(... ORDER BY bucket))
    _B = cur.N_DSIR_BUCKETS
    o["cur_dsir_weights"] = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
bg AS (
  SELECT doc_id, word AS w1,
         lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
),
bk AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(w1 || ' ' || w2), 1, 15) AS BIGINT) % {_B} AS bucket
  FROM bg WHERE w2 IS NOT NULL
),
dc AS (
  SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bk WHERE doc_id % 50 != 0 GROUP BY 1, 2
),
tc AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS ct
  FROM bk WHERE doc_id % 50 = 0 GROUP BY 1
),
rc AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr FROM dc GROUP BY 1),
dist AS (
  SELECT bucket, COALESCE(ct, 0) AS ct, COALESCE(cr, 0) AS cr
  FROM rc FULL OUTER JOIN tc USING (bucket)
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
  FROM dist
),
ratio AS (
  SELECT bucket,
         LN(CAST(ct + 1 AS DOUBLE) / (nt + {_B}))
         - LN(CAST(cr + 1 AS DOUBLE) / (nr + {_B})) AS lr
  FROM dist CROSS JOIN tot
),
per AS (
  SELECT dc.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
         list_aggregate(list(cnt * lr ORDER BY bucket), 'sum') AS lw
  FROM dc JOIN ratio USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       ROUND(lw, 6) AS log_weight
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 != 0) d
LEFT JOIN per ON d.doc_id = per.doc_id
"""
    # round 5: DSIR resampling — composes the dsir oracle; log-domain
    # Gumbel-max key keeps cross-engine parity exp()-free
    o["cur_dsir_resample"] = f"""
WITH dsir AS ({o["cur_dsir_weights"]}),
keyed AS (
  SELECT doc_id, log_weight,
         ROUND(LN(-LN(LEAST(({_MD5H.format(x="'dsir:' || CAST(doc_id AS VARCHAR)")} + 1.0)
                            / 1152921504606846976.0, 0.9999999999999999)))
               - log_weight, 6) + 0.0 AS key
  FROM dsir WHERE log_weight IS NOT NULL
),
top AS (SELECT * FROM keyed ORDER BY key ASC, doc_id ASC LIMIT 20)
SELECT doc_id, log_weight, key,
       CAST(ROW_NUMBER() OVER (ORDER BY key ASC, doc_id ASC) AS BIGINT) AS rank
FROM top
"""
    # round 5: Matryoshka prefix-dim recall — one UNION ALL arm per prefix,
    # each the cosine_topk contract over vec[1:p]
    _mat_ctes = []
    _mat_arms = []
    for _p in (8, 16, 32):
        _mat_ctes.append(f"""
pv{_p} AS (
  SELECT vec_id, vec[1:{_p}] AS pvec,
         sqrt(list_aggregate(list_transform(vec[1:{_p}], x -> x * x), 'sum')) AS pnrm
  FROM nv
),
q{_p} AS (SELECT vec_id AS q_id, pvec AS q_vec, pnrm AS q_nrm FROM pv{_p} WHERE vec_id < 10),
s{_p} AS (
  SELECT q_id, vec_id,
         ROUND(list_dot_product(pvec, q_vec) / (pnrm * q_nrm), 6) AS cosine
  FROM pv{_p}, q{_p} WHERE vec_id != q_id
),
a{_p} AS (
  SELECT q_id, vec_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM s{_p}
  ) WHERE rn <= 5
)""")
        _mat_arms.append(f"""
SELECT CAST({_p} AS INT) AS prefix_dims, CAST(10 AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS recall
FROM truth t LEFT JOIN a{_p} a ON t.q_id = a.q_id AND t.vec_id = a.vec_id""")
    # round 5: fuzzy decontamination — signatures over ALL documents then
    # doc_id%50 split at the band join (per-doc signatures depend only on
    # the doc's own text, so compute-then-filter == per-side compute)
    o["cur_fuzzy_contamination"] = f"""
WITH {_BANDS_CTE.strip()},
cand AS (
  SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
  FROM bands t JOIN bands e ON t.band = e.band AND t.band_key = e.band_key
  WHERE t.doc_id % 50 != 0 AND e.doc_id % 50 = 0
),
est AS (
  SELECT train_id, eval_id,
         ROUND(CAST(SUM(CASE WHEN st.minh = se.minh THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig st ON st.doc_id = cand.train_id
  JOIN sig se ON se.doc_id = cand.eval_id AND se.i = st.i
  GROUP BY 1, 2
),
k AS (SELECT * FROM est WHERE est_jaccard >= 0.25)
SELECT train_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       MAX(est_jaccard) AS max_est_jaccard
FROM k GROUP BY 1
"""
    o["sim_matryoshka_recall"] = (
        f"WITH {_VEC_CTE.strip()},\ntruth AS ({o['sim_cosine_topk']}),"
        + ",".join(_mat_ctes)
        + "\n"
        + "\nUNION ALL\n".join(_mat_arms)
    )
    # round 5: labelled-vector CTE shared by the hard-negative / kNN audits
    _LVEC = """
lv AS (
  SELECT vec_id, CAST(label AS INT) AS label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
),
lnv AS (
  SELECT vec_id, label, vec,
         sqrt(list_aggregate(list_transform(vec, x -> x * x), 'sum')) AS nrm
  FROM lv
)
"""
    # round 5: hard-negative mining — cosine_topk contract + label filter
    o["sim_hard_negatives"] = f"""
WITH {_LVEC},
q AS (
  SELECT vec_id AS q_id, label AS q_label, vec AS q_vec, nrm AS q_nrm
  FROM lnv WHERE vec_id < 10
),
s AS (
  SELECT q_id, q_label, vec_id, label AS neg_label,
         ROUND(list_dot_product(vec, q_vec) / (nrm * q_nrm), 6) AS cosine
  FROM lnv, q WHERE label != q_label
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s
)
SELECT q_id, q_label, vec_id, neg_label, cosine FROM r WHERE rn <= 5
"""
    # round 5: per-label kNN label-consistency audit (n_queries=50, k=10)
    o["sim_knn_label_consistency"] = f"""
WITH {_LVEC},
q AS (
  SELECT vec_id AS q_id, label AS q_label, vec AS q_vec, nrm AS q_nrm
  FROM lnv WHERE vec_id < 50
),
s AS (
  SELECT q_id, q_label, vec_id, label AS n_label,
         ROUND(list_dot_product(vec, q_vec) / (nrm * q_nrm), 6) AS cosine
  FROM lnv, q WHERE vec_id != q_id
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM s
),
per AS (
  SELECT q_id, q_label,
         ROUND(CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS DOUBLE) / 10, 6) AS consistency
  FROM r WHERE rn <= 10 GROUP BY 1, 2
)
SELECT q_label AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(AVG(consistency), 6) AS mean_consistency,
       ROUND(MIN(consistency), 6) AS min_consistency
FROM per GROUP BY 1
"""
    # round 5: temperature mixture — p_raw rounded BEFORE pow, pow output
    # rounded (absorbs libm ulp), alloc floors the identical rounded weight
    o["cur_temperature_mixture"] = """
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per),
p AS (
  SELECT source, n_docs, n_tokens,
         ROUND(CAST(n_tokens AS DOUBLE) / total, 6) AS p_raw
  FROM per CROSS JOIN tot
),
w AS (SELECT *, ROUND(POW(p_raw, 0.7), 6) AS _w FROM p),
d AS (SELECT SUM(_w) AS _denom FROM w)
SELECT source, n_docs, n_tokens, p_raw,
       ROUND(_w / _denom, 6) AS weight,
       CAST(FLOOR(ROUND(_w / _denom, 6) * 1000000.0 + 0.5) AS BIGINT) AS alloc_tokens,
       ROUND(CAST(FLOOR(ROUND(_w / _denom, 6) * 1000000.0 + 0.5) AS BIGINT)
             / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM w CROSS JOIN d
"""
    # round 5: inter-source duplication matrix over the verified pairs
    o["dedup_cross_source"] = f"""
WITH vp AS ({o["dedup_verified"]}),
lab AS (
  SELECT LEAST(sa.source, sb.source) AS source_a,
         GREATEST(sa.source, sb.source) AS source_b,
         jaccard
  FROM vp
  JOIN documents sa ON vp.doc_a = sa.doc_id
  JOIN documents sb ON vp.doc_b = sb.doc_id
)
SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(jaccard), 6) AS mean_jaccard
FROM lab GROUP BY 1, 2
"""
    # round 5: label-centroid mislabel audit — two-level md5-bucket fold
    # twin of label_centroids (vec_id order within buckets, bucket order
    # across), centroid components rounded to 6 before the cosine
    o["sim_label_outliers"] = f"""
WITH {_LVEC},
x AS (
  SELECT vec_id, label, generate_subscripts(vec, 1) - 1 AS dim,
         unnest(vec) AS x
  FROM lnv
),
bkt AS (
  SELECT *, {_MD5H.format(x="CAST(vec_id AS VARCHAR)")} % 64 AS bucket FROM x
),
p AS (
  SELECT label, dim, bucket,
         list_aggregate(list(x ORDER BY vec_id), 'sum') AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM bkt GROUP BY 1, 2, 3
),
pd AS (
  SELECT label, dim,
         ROUND(list_aggregate(list(s ORDER BY bucket), 'sum')
               / CAST(SUM(n) AS DOUBLE), 6) AS cv,
         CAST(SUM(n) AS BIGINT) AS n_members
  FROM p GROUP BY 1, 2
),
cent AS (
  SELECT label, list(cv ORDER BY dim) AS cvec, MAX(n_members) AS n_members
  FROM pd GROUP BY 1
),
cn AS (
  SELECT label, cvec, n_members,
         sqrt(list_aggregate(list_transform(cvec, x -> x * x), 'sum')) AS cnrm
  FROM cent
),
s AS (
  SELECT v.label, cn.n_members, v.vec_id,
         ROUND(list_dot_product(v.vec, cn.cvec) / (v.nrm * cn.cnrm), 6) AS cosine
  FROM lnv v JOIN cn USING (label)
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label ORDER BY cosine ASC, vec_id ASC) AS rn
  FROM s
)
SELECT label, n_members, vec_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
"""
    # round 5: angular-cell stratified diversity sample over the shared
    # hyperplane bucket CTE
    o["sim_lsh_sample"] = f"""
WITH {_BUCKET_CTE},
cells AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_members,
         MIN(vec_id) AS rep_vec_id
  FROM buckets GROUP BY 1
),
t AS (SELECT CAST(SUM(n_members) AS BIGINT) AS total FROM cells)
SELECT bucket, n_members, rep_vec_id,
       ROUND(CAST(n_members AS DOUBLE) / total, 6) AS frac
FROM cells CROSS JOIN t
"""
    # round 5: Church-Hanks PMI collocations — exact BIGINT counts into an
    # identical division tree; LN's libm ulp absorbed by ROUND 6
    o["text_pmi_collocations"] = """
WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks),
bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM idx),
u AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
),
nt AS (SELECT CAST(SUM(c1) AS BIGINT) AS _nt FROM uc),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS _nb FROM bg),
s AS (
  SELECT bc.w1, bc.w2, bc.c2,
         ROUND(LN((CAST(c2 AS DOUBLE) / CAST(_nb AS DOUBLE))
               / ((CAST(ua.c1 AS DOUBLE) / CAST(_nt AS DOUBLE))
                  * (CAST(ub.c1 AS DOUBLE) / CAST(_nt AS DOUBLE)))), 6) AS pmi
  FROM bc
  JOIN uc ua ON bc.w1 = ua.w
  JOIN uc ub ON bc.w2 = ub.w
  CROSS JOIN nt CROSS JOIN nb
)
SELECT w1, w2, c2, pmi FROM s ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20
"""
    # round 5: two-proportion z-test — z's division tree is written
    # identically on both engines (bit-identical pre-round); the pure-SQL
    # erfc twin (~2e-15 of math.erfc) is absorbed by ROUND 6, the
    # mwu_full_rounded contract.  Deferred import: __spark_entry__ imports
    # this module at load time, but oracle_sql() only runs afterwards.
    from __spark_entry__ import _erfc_sql

    o["events_ab_test"] = f"""
WITH arms AS (
  SELECT user_id, {_MD5H.format(x="CAST(user_id AS VARCHAR)")} % 2 AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
sizes AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM arms
),
conv AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS x_b
  FROM (SELECT DISTINCT event_type, user_id FROM events) e
  JOIN arms USING (user_id)
  GROUP BY 1
),
s AS (
  SELECT event_type, n_a, n_b, x_a, x_b,
         CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
  FROM conv CROSS JOIN sizes
),
zt AS (
  SELECT *, sqrt(pp * (1.0 - pp)
                 * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS se
  FROM s
),
zz AS (SELECT *, CASE WHEN se > 0 THEN (pa - pb) / se END AS z FROM zt)
SELECT event_type, n_a, n_b, x_a, x_b,
       ROUND(pa, 6) AS p_a, ROUND(pb, 6) AS p_b, ROUND(z, 6) AS z,
       CASE WHEN z IS NULL THEN NULL
            ELSE ROUND(LEAST(1.0, {_erfc_sql("ABS(z) / SQRT(2.0)")}), 6)
       END AS p_value
FROM zz
"""
    # round 5: exact-integer OLS — x = epoch days (INT), y = price cents
    # (BIGINT); every sum/product integer-exact, one final double division
    o["lineitem_price_trend"] = """
WITH pts AS (
  SELECT l_partkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
              AS BIGINT) AS x,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
agg AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY 1 HAVING COUNT(*) >= 5
),
s AS (
  SELECT l_partkey, n,
         ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0, 6) AS slope_per_day
  FROM agg WHERE n * sxx - sx * sx != 0
)
SELECT l_partkey, n, slope_per_day FROM s
ORDER BY slope_per_day DESC, l_partkey ASC LIMIT 20
"""
    # round 5: bloom decontamination — the bloom stage only discards true
    # negatives and the verify join removes its false positives, so the
    # oracle is the PLAIN exact-decontamination result (the
    # lineitem_bloom_semi contract)
    o["cur_bloom_decontaminate"] = f"""
WITH {_SHINGLE_CTE},
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
bad AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN ev USING (shingle)
  WHERE sh.doc_id % 50 <> 0
),
keep AS (
  SELECT * FROM documents
  WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM keep GROUP BY 1
"""
    # round 5: TextRank — the generic unrolled pagerank rounds over the
    # adjacent-word co-occurrence graph (word strings compare binary on
    # both engines, so the neighbor-order folds agree)
    o["text_textrank"] = (
        """
WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
idx AS (SELECT w, unnest(range(1, len(w))) AS i FROM toks),
bg AS (SELECT w[i] AS a, w[i + 1] AS b FROM idx),
canon AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM bg WHERE a <> b
),
directed AS MATERIALIZED (
  SELECT u AS e_src, v AS e_dst FROM canon
  UNION ALL
  SELECT v AS e_src, u AS e_dst FROM canon
),
out_deg AS MATERIALIZED (
  SELECT e_src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM directed GROUP BY 1
),
nodes AS MATERIALIZED (SELECT DISTINCT e_src AS node FROM directed),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / nn.n_nodes AS rank FROM nodes CROSS JOIN nn)"""
        + _pagerank_rounds_sql(n_iter=5, damping=0.85)
        + """
SELECT node AS word, ROUND(rank, 6) AS rank FROM r5
ORDER BY ROUND(rank, 6) DESC, node ASC LIMIT 20
"""
    )
    # round 5: market-basket brand lift — exact integer products into one
    # rounded division
    o["lineitem_basket_lift"] = """
WITH items AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS _n FROM items),
marg AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY 1),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT brand_a, brand_b, n_both,
       ROUND(CAST(n_both * _n AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE), 6)
         AS lift,
       ROUND(CAST(n_both AS DOUBLE) / CAST(_n AS DOUBLE), 6) AS support
FROM pairs
JOIN marg ca ON pairs.brand_a = ca.p_brand
JOIN marg cb ON pairs.brand_b = cb.p_brand
CROSS JOIN n
"""
    # round 5: dominant PC — the unrolled power-iteration twin
    o["sim_dominant_pc"] = _power_iter_sql(n_iter=3, n_buckets=64)
    # round 5: first-touch attribution — the min-(ts,event_id) row via
    # row_number (event_id unique => same row as the engine's min-struct)
    o["events_attribution"] = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events
),
f AS (
  SELECT user_id, event_type AS first_touch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS rn
  FROM ev
),
firsts AS (SELECT user_id, first_touch FROM f WHERE rn = 1),
conv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT first_touch,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(CASE WHEN conv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS conv_rate
FROM firsts LEFT JOIN conv USING (user_id)
GROUP BY 1
"""
    # round 5: inter-arrival gaps — exact BIGINT nano diffs, two rounded
    # divisions
    o["events_gap_profile"] = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tsn, event_type FROM events
),
g AS (
  SELECT event_type,
         tsn - lag(tsn) OVER (PARTITION BY user_id, event_type
                              ORDER BY tsn, event_id) AS gap_ns
  FROM ev
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(gap_ns) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000000.0, 6) AS mean_gap_s,
       ROUND(CAST(MIN(gap_ns) AS DOUBLE) / 1000000000.0, 6) AS min_gap_s,
       ROUND(CAST(MAX(gap_ns) AS DOUBLE) / 1000000000.0, 6) AS max_gap_s
FROM g WHERE gap_ns IS NOT NULL
GROUP BY 1
"""
    # round 5: anisotropy — power-iteration body + a scatter-trace tail
    # (same two-level fold discipline, ratio of already-rounded doubles)
    o["sim_anisotropy"] = _power_iter_sql(
        n_iter=3,
        n_buckets=64,
        final=""",
trp AS (
  SELECT dim, bucket,
         list_aggregate(list(cx * cx ORDER BY vec_id), 'sum') AS s
  FROM cxe GROUP BY 1, 2
),
trd AS (
  SELECT dim, ROUND(list_aggregate(list(s ORDER BY bucket), 'sum'), 6) AS t
  FROM trp GROUP BY 1
),
tr AS (
  SELECT ROUND(list_aggregate(list(t ORDER BY dim), 'sum'), 6) AS trace
  FROM trd
)
SELECT (SELECT ROUND(nrm, 6) FROM nrm3) AS eigval,
       tr.trace AS trace,
       ROUND((SELECT ROUND(nrm, 6) FROM nrm3) / tr.trace, 6) AS anisotropy
FROM tr
""",
    )
    # round 5: quality-aware canonical per component — components CTE +
    # the text_quality composite, winner by (quality DESC, doc_id ASC)
    o["dedup_canonical_quality"] = f"""
WITH {_CC_CTE},
q AS (
  SELECT doc_id,
         ROUND(0.4 * LEAST(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0)
               + 0.3 * LEAST(1.0, 5.0 * (CAST(len(list_filter(string_split(text, ' '),
                     w -> w IN ({", ".join(repr(w) for w in tx.STOPWORDS)}))) AS DOUBLE)
                     / len(string_split(text, ' '))))
               + 0.3 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                     / length(text)), 6) AS quality
  FROM documents
),
m AS (
  SELECT CAST(cc.node AS BIGINT) AS doc_id, CAST(cc.comp AS BIGINT) AS component,
         q.quality
  FROM cc JOIN q ON q.doc_id = cc.node
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                               ORDER BY quality DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component) AS n_members
  FROM m
)
SELECT component, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS kept_doc, quality
FROM r WHERE rn = 1
"""
    # round 5: activation latency — exact BIGINT nanos, rounded edges
    o["events_time_to_convert"] = """
WITH f AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_ns(ts) END) AS t1
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY 1 HAVING MIN(CASE WHEN event_type = 'signup' THEN epoch_ns(ts) END)
                    IS NOT NULL
),
lat AS (
  SELECT user_id,
         CASE WHEN t1 IS NOT NULL AND t1 > t0 THEN t1 - t0 END AS lat_ns
  FROM f
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_started,
       CAST(COUNT(lat_ns) AS BIGINT) AS n_converted,
       ROUND(CAST(COUNT(lat_ns) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS conv_rate,
       ROUND(CAST(SUM(lat_ns) AS DOUBLE) / CAST(COUNT(lat_ns) AS DOUBLE)
             / 1000000000.0, 6) AS mean_s,
       ROUND(CAST(MIN(lat_ns) AS DOUBLE) / 1000000000.0, 6) AS min_s,
       ROUND(CAST(MAX(lat_ns) AS DOUBLE) / 1000000000.0, 6) AS max_s
FROM lat
"""
    # round 5: Wilson lower bound — fixed IEEE tree, z literals emitted
    # with repr so both engines square 1.96 identically
    _z, _zz = repr(1.96), repr(1.96 * 1.96)
    _p = "CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)"
    _n = "CAST(n_lines AS DOUBLE)"
    o["lineitem_return_wilson"] = f"""
WITH agg AS (
  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returned
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT p_brand, n_lines, n_returned,
       ROUND({_p}, 6) AS rate,
       ROUND(({_p} + {_zz} / (2.0 * {_n})
              - {_z} * sqrt({_p} * (1.0 - {_p}) / {_n}
                            + {_zz} / (4.0 * {_n} * {_n})))
             / (1.0 + {_zz} / {_n}), 6) AS wilson_low
FROM agg
"""
    # round 5: revenue HHI — DECIMAL(18,2) money sums (exact under any
    # partitioning), shares rounded then folded in nation order
    o["orders_revenue_hhi"] = """
WITH rev AS (
  SELECT n_name, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS _rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
),
t AS (SELECT SUM(_rev) AS _total FROM rev),
s AS (
  SELECT n_name, CAST(_rev AS DOUBLE) AS revenue,
         ROUND(CAST(_rev AS DOUBLE) / CAST(_total AS DOUBLE), 6) AS share
  FROM rev CROSS JOIN t
),
h AS (
  SELECT ROUND(list_aggregate(list(share * share ORDER BY n_name), 'sum'), 6)
    AS hhi
  FROM s
)
SELECT n_name, revenue, share, hhi FROM s CROSS JOIN h
"""
    # round 5: dedup-aware mixture — dup discount BEFORE the tempering,
    # effective-mass totals fold ROUNDED values in source order
    o["cur_dedup_mixture"] = f"""
WITH per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(COUNT(DISTINCT
           {_MD5H.format(x="regexp_replace(trim(lower(text)), ' +', ' ', 'g')")})
           AS BIGINT) AS nu,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
d AS (
  SELECT source, n_tokens,
         ROUND(1.0 - CAST(nu AS DOUBLE) / nd, 6) AS dup_frac
  FROM per
),
e AS (
  SELECT *, ROUND(CAST(n_tokens AS DOUBLE) * (1.0 - dup_frac), 6)
    AS eff_tokens
  FROM d
),
t AS (SELECT list_aggregate(list(eff_tokens ORDER BY source), 'sum') AS total
      FROM e),
p AS (SELECT e.*, ROUND(eff_tokens / total, 6) AS p_raw FROM e CROSS JOIN t),
w AS (SELECT *, ROUND(POW(p_raw, 0.7), 6) AS _w FROM p),
dn AS (SELECT list_aggregate(list(_w ORDER BY source), 'sum') AS _denom FROM w)
SELECT source, n_tokens, dup_frac, eff_tokens, p_raw,
       ROUND(_w / _denom, 6) AS weight,
       CAST(FLOOR(ROUND(_w / _denom, 6) * 1000000.0 + 0.5) AS BIGINT)
         AS alloc_tokens
FROM w CROSS JOIN dn
"""
    # round 5: sessionization summary — exact integer session numbering
    o["events_sessions"] = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events
),
m AS (
  SELECT user_id, tsn, event_id,
         CASE WHEN lag(tsn) OVER w IS NULL
                   OR tsn - lag(tsn) OVER w > 1800000000000
              THEN 1 ELSE 0 END AS nw
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsn, event_id)
),
n AS (
  SELECT *, SUM(nw) OVER (PARTITION BY user_id ORDER BY tsn, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM m
),
ps AS (
  SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS n_events,
         MAX(tsn) - MIN(tsn) AS dur_ns
  FROM n GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS mean_events,
       ROUND(CAST(SUM(dur_ns) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             / 1000000000.0, 6) AS mean_duration_s,
       ROUND(CAST(MAX(dur_ns) AS DOUBLE) / 1000000000.0, 6) AS max_duration_s
FROM ps
"""
    # round 5: degree power-law over the LSH dup graph — Hill/CSN alpha
    # with the two-level md5-bucket ln fold
    o["graph_degree_powerlaw"] = f"""
WITH {_BANDS_CTE},
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
  WHERE x.doc_id < y.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(SUM(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END)
                    AS DOUBLE) / 16, 6) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b AND sb.i = sa.i
  GROUP BY doc_a, doc_b
),
canon AS (
  SELECT DISTINCT doc_a AS u, doc_b AS v FROM est WHERE est_jaccard >= 0.25
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT u AS node FROM canon UNION ALL SELECT v AS node FROM canon)
  GROUP BY 1
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes, MAX(deg) AS max_degree,
         ROUND(CAST(SUM(deg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS mean_degree
  FROM deg
),
tail AS (
  SELECT node, deg,
         {_MD5H.format(x="CAST(node AS VARCHAR)")} % 64 AS bucket
  FROM deg WHERE deg >= 2
),
pp AS (
  SELECT bucket,
         list_aggregate(list(ln(CAST(deg AS DOUBLE) / 1.5) ORDER BY node),
                        'sum') AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM tail GROUP BY 1
),
h AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_tail,
         ROUND(list_aggregate(list(s ORDER BY bucket), 'sum'), 6) AS lnsum
  FROM pp
)
SELECT n_nodes, n_tail, max_degree, mean_degree,
       ROUND(1.0 + CAST(n_tail AS DOUBLE) / lnsum, 6) AS alpha
FROM base CROSS JOIN h
"""
    # round 5: all-but-the-top contrast — power-iteration body + the
    # projection and two brute top-1 passes; means fold rounded top-1
    # cosines in q_id order
    o["sim_abtt_contrast"] = _power_iter_sql(
        n_iter=3,
        n_buckets=64,
        final=""",
vl AS (SELECT list(v ORDER BY dim) AS vlist FROM v3),
cxl AS (SELECT vec_id, list(cx ORDER BY dim) AS cxv FROM cxe GROUP BY 1),
sv AS (SELECT vec_id, list_dot_product(cxv, vlist) AS s
       FROM cxl CROSS JOIN vl),
pe AS (
  SELECT cxe.vec_id, cxe.dim, cxe.cx - sv.s * v3.v AS px
  FROM cxe JOIN v3 USING (dim) JOIN sv USING (vec_id)
),
pl AS (SELECT vec_id, list(px ORDER BY dim) AS pxv FROM pe GROUP BY 1),
bv AS MATERIALIZED (
  SELECT cxl.vec_id, cxv,
         sqrt(list_aggregate(list_transform(cxv, x -> x * x), 'sum')) AS bnrm,
         pxv,
         sqrt(list_aggregate(list_transform(pxv, x -> x * x), 'sum')) AS pnrm
  FROM cxl JOIN pl USING (vec_id)
),
qb AS (SELECT vec_id AS q_id, cxv AS qb_v, bnrm AS qb_n,
              pxv AS qp_v, pnrm AS qp_n
       FROM bv WHERE vec_id < 10),
sb AS (
  SELECT q_id, bv.vec_id,
         ROUND(list_dot_product(bv.cxv, qb_v) / (bv.bnrm * qb_n), 6) AS cosine
  FROM bv, qb WHERE bv.vec_id != q_id
),
rb AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, vec_id ASC) AS rn
       FROM sb),
agg_b AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         ROUND(list_aggregate(list(cosine ORDER BY q_id), 'sum')
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_top1_before
  FROM rb WHERE rn = 1
),
sp AS (
  SELECT q_id, bv.vec_id,
         ROUND(list_dot_product(bv.pxv, qp_v) / (bv.pnrm * qp_n), 6) AS cosine
  FROM bv, qb WHERE bv.vec_id != q_id
),
rp AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                    ORDER BY cosine DESC, vec_id ASC) AS rn
       FROM sp),
agg_a AS (
  SELECT ROUND(list_aggregate(list(cosine ORDER BY q_id), 'sum')
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_top1_after
  FROM rp WHERE rn = 1
)
SELECT n_queries, mean_top1_before, mean_top1_after,
       ROUND(mean_top1_before - mean_top1_after, 6) AS delta
FROM agg_b CROSS JOIN agg_a
""",
    )
    # round 5: IVF n_probe tuning curve — one arm per probe setting, each
    # the ivf oracle with its probe head re-parameterized, unioned
    _curve_arms = []
    for _np in (1, 2, 4):
        _arm = o["sim_ivf_topk"].replace("rn <= 4", f"rn <= {_np}")
        _curve_arms.append(f"""
SELECT * FROM (
WITH truth AS ({o["sim_cosine_topk"]}),
approx AS ({_arm}),
per_q AS (
  SELECT t.q_id,
         ROUND(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*), 6) AS recall
  FROM truth t
  LEFT JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
  GROUP BY 1
)
SELECT {_np} AS n_probe, CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(list_aggregate(list(recall ORDER BY q_id), 'sum')
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_recall,
       ROUND(MIN(recall), 6) AS min_recall
FROM per_q)
""")
    o["sim_ivf_recall_curve"] = "\nUNION ALL\n".join(_curve_arms)
    # round 5: monthly revenue trend — DECIMAL-exact sums, lag over the
    # bounded post-aggregate months table
    o["orders_monthly_growth"] = """
WITH m AS (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT strftime(month, '%Y-%m') AS month, n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CAST(rev - lag(rev) OVER (ORDER BY month) AS DOUBLE)
             / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE), 6)
         AS mom_growth
FROM m
"""
    # round 5: procurement risk — exact distinct-supplier counts
    o["lineitem_supply_risk"] = """
WITH pp AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS ns
  FROM lineitem GROUP BY 1
)
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_sourced,
       ROUND(CAST(SUM(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS risk_frac
FROM pp JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""
    # round 5: user concentration — rounded shares, cumsum over the
    # bounded post-limit head in rank order
    o["events_power_users"] = """
WITH pu AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM pu),
head AS (
  SELECT user_id, n_events,
         ROUND(CAST(n_events AS DOUBLE) / total, 6) AS share
  FROM pu CROSS JOIN t
  ORDER BY n_events DESC, user_id ASC LIMIT 10
)
SELECT user_id, n_events, share,
       ROUND(SUM(share) OVER (ORDER BY n_events DESC, user_id ASC
                              ROWS UNBOUNDED PRECEDING), 6) AS cum_share
FROM head
"""
    o["customer_order_dist"] = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_custkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY c_count
"""
    # qty < 0.2 * avg(qty)  <=>  5 * n * qty < sum(qty)  (exact integers)
    o["lineitem_small_qty_revenue"] = """
WITH s AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS BIGINT)) AS _sum_qty,
         COUNT(*) AS _n
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       COUNT(*) AS n_small_qty_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS small_qty_revenue
FROM lineitem l
JOIN s USING (l_partkey)
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_quantity AS BIGINT) * 5 * s._n < s._sum_qty
GROUP BY p.p_brand
"""
    # threshold = one IEEE divide of an exact DECIMAL sum by an exact
    # count — bit-identical to the Spark side's single divide
    o["customer_dormant_balance"] = """
WITH thr AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS _thr
  FROM customer WHERE c_acctbal > 0
),
cutoff AS (
  SELECT MAX(o_orderdate) - INTERVAL 365 DAY AS _cut FROM orders
)
SELECT n.n_name AS nation,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS totacctbal
FROM customer c
CROSS JOIN thr
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > thr._thr
  AND NOT EXISTS (
    SELECT 1 FROM orders o, cutoff
    WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= cutoff._cut
  )
GROUP BY n.n_name
"""
    o["cur_group_split"] = f"""
WITH b AS (
  SELECT source, n_chars,
         {_MD5H.format(x="'gsplit:' || source")} % 10000 AS bucket
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 9000 THEN 'train'
              WHEN bucket < 9500 THEN 'val'
              ELSE 'test' END AS split,
         source, n_chars
  FROM b
)
SELECT split,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split
"""
    o["cur_split_leakage"] = f"""
WITH vp AS ({o["dedup_verified"]}),
sp AS (
  SELECT doc_id,
         CASE WHEN {_MD5H.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'train'
              WHEN {_MD5H.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 10000 < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
lab AS (
  SELECT LEAST(a.split, b.split) AS split_a,
         GREATEST(a.split, b.split) AS split_b,
         jaccard
  FROM vp
  JOIN sp a ON vp.doc_a = a.doc_id
  JOIN sp b ON vp.doc_b = b.doc_id
)
SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(jaccard), 6) AS mean_jaccard
FROM lab GROUP BY 1, 2
"""
    # textbook correlated Q21 form (EXISTS other supplier / NOT EXISTS
    # other LATE supplier); DISTINCT orderkeys because the engine counts
    # each sole-late ORDER once, not each late line
    o["supplier_sole_late"] = """
SELECT s.s_suppkey, s.s_name,
       CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_suppkey, s.s_name
"""
    # literal Q16 NOT-IN form
    o["part_supplier_cnt"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_suppkey NOT IN (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY p.p_brand, p.p_type, p.p_size
"""
    o["graph_kcore"] = _kcore_sql(k=2, n_rounds=4)
    o["star_market_share"] = """
WITH f AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
           AS rev,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'AMERICA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
),
y AS (
  SELECT o_year,
         CAST(SUM(rev) AS DOUBLE) AS total_revenue,
         CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN rev
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS nation_revenue
  FROM f GROUP BY o_year
)
SELECT o_year, total_revenue, nation_revenue,
       ROUND(nation_revenue / total_revenue, 6) AS mkt_share
FROM y
"""
    # textbook correlated EXISTS form
    o["orders_priority_wait"] = """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXTRACT(year FROM o.o_orderdate) = 1996
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o.o_orderpriority
"""
    # HAVING vs scalar subquery; the compare is the identical
    # left-associated double multiply chain as the Spark side
    o["supplier_value_share"] = """
WITH v AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS val
  FROM lineitem GROUP BY l_suppkey
),
t AS (SELECT SUM(val) AS tot, CAST(COUNT(*) AS BIGINT) AS n FROM v)
SELECT s.s_suppkey, s.s_name, CAST(v.val AS DOUBLE) AS total_value
FROM v CROSS JOIN t
JOIN supplier s ON s.s_suppkey = v.l_suppkey
WHERE CAST(v.val AS DOUBLE) * t.n * 100 > CAST(t.tot AS DOUBLE) * 102
"""
    o["orders_large_volume"] = """
WITH heavy AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 200
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice, h.sum_qty
FROM heavy h
JOIN orders o ON o.o_orderkey = h.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""
    o["lineitem_bracket_revenue"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 20 AND 30)
"""
    # Empty contingency cells owe (0-e)^2/e = e; since sum over ALL
    # cells of e = g, the empty-cell mass is g - sum(observed e), so
    # chi2 = g + fold[(o-e)^2/e - e] over observed cells — full Pearson
    # on tables with holes without a cross-join.  Terms fold in cell
    # order; chi2 rounds to 6 before the dof=2 closed-form exp(-x/2) —
    # the Kruskal-Wallis contract (audit.py chi2_independence mirror).
    o["lineitem_chi2_assoc"] = """
WITH cells AS (
  SELECT l_returnflag AS a, l_linestatus AS b, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT a, b, n,
         CAST(SUM(n) OVER (PARTITION BY a) AS BIGINT) AS ra,
         CAST(SUM(n) OVER (PARTITION BY b) AS BIGINT) AS cb,
         CAST(SUM(n) OVER () AS BIGINT) AS g
  FROM cells
),
tm AS (
  SELECT a, b, g,
         (CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(g AS DOUBLE))
         * (CAST(n AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(g AS DOUBLE))
         / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(g AS DOUBLE))
         - (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(g AS DOUBLE)) AS t
  FROM tot
),
agg AS (
  SELECT list_aggregate(list(t ORDER BY a, b), 'sum') AS s,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS n_a,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS n_b,
         CAST(MAX(g) AS BIGINT) AS n_obs
  FROM tm
),
fin AS (
  SELECT n_obs, n_a, n_b,
         ROUND(s + CAST(n_obs AS DOUBLE), 6) AS chi2
  FROM agg
)
SELECT n_obs, n_a, n_b,
       (n_a - 1) * (n_b - 1) AS dof,
       chi2,
       CASE WHEN (n_a - 1) * (n_b - 1) = 2
            THEN ROUND(EXP(-chi2 / 2.0), 6) END AS p_value
FROM fin
"""
    # Q15's revenue view inlined as a CTE; the argmax is the literal
    # scalar-subquery equality over exact decimals
    o["supplier_top_revenue"] = """
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
           AS val
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.val AS DOUBLE) AS total_revenue
FROM r
JOIN supplier s ON s.s_suppkey = r.l_suppkey
WHERE r.val = (SELECT MAX(val) FROM r)
"""
    o["star_nation_volume"] = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
  AND cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, EXTRACT(year FROM o.o_orderdate)
"""
    o["lineitem_forecast_revenue"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE EXTRACT(year FROM o.o_orderdate) = 1996
  AND l.l_discount BETWEEN 0.05 AND 0.07
  AND l.l_quantity < 24
"""
    o["lineitem_promo_share"] = """
WITH f AS (
  SELECT EXTRACT(month FROM o.o_orderdate) AS o_month,
         p.p_type,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
           AS rev
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE EXTRACT(year FROM o.o_orderdate) = 1996
),
m AS (
  SELECT o_month,
         CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           AS promo_revenue,
         CAST(SUM(rev) AS DOUBLE) AS total_revenue
  FROM f GROUP BY o_month
)
SELECT o_month, promo_revenue, total_revenue,
       ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_share_pct
FROM m
"""
    o["star_retail_margin"] = """
SELECT n.n_name AS nation,
       EXTRACT(year FROM o.o_orderdate) AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))
         - CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS BIGINT)
       ) AS DOUBLE) AS margin_vs_retail
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
"""
    # exact-decimal order key -> deterministic top-20 frontier
    o["customer_returned_revenue"] = """
WITH r AS (
  SELECT c.c_custkey, c.c_name, n.n_name AS nation,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))))
           AS val
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
  GROUP BY c.c_custkey, c.c_name, n.n_name
)
SELECT c_custkey, c_name, nation, CAST(val AS DOUBLE) AS returned_revenue
FROM r
ORDER BY val DESC, c_custkey ASC
LIMIT 20
"""
    # round 8: the AVI arm round-trips the SAME padded text bytes through
    # a different (standard RIFF/AVI, uncompressed-DIB) container, so the
    # independent character-arithmetic oracle is identical to the MJPNG
    # path's — decoded sampled content is frames 0 and 2 of the padded
    # text either way; what changes is the REAL codec under test
    o["mm_avi_decode_stats"] = o["mm_real_decode_stats"]
    # round 11: the incremental BM25 query serves from an index built on
    # the even-doc_id half and UPDATED with the odd half — equal by the
    # batch-twin contract to the full recompute, so the full-corpus BM25
    # SQL IS the oracle (the cross-engine proof of recompute equality)
    o["text_bm25_incremental"] = o["text_bm25_topk"]
    # round 11: the incremental IVF query equals the full rebuild by the
    # fixed-centroid batch-twin contract (same centroids = the default
    # vec_id<16 seed), so the batch oracle proves recompute equality
    o["sim_ivf_incremental_topk"] = o["sim_ivf_batch_topk"]
    # round 11: positional phrase search — generated per-phrase m-way
    # positional self-join twin
    o["text_phrase_search"] = _phrase_search_oracle(_PHRASES)
    # round 12: proximity (slop) phrase search — generated greedy
    # correlated-MIN chain twin
    o["text_phrase_slop"] = _phrase_slop_oracle(_PHRASES, 1)
    # round 12: the BM25 delete oracle IS the rebuild on the remaining
    # corpus — the full-recompute SQL with the deleted docs filtered at
    # the source scans (the delete-equals-rebuild cross-engine proof)
    o["text_bm25_delete"] = o["text_bm25_topk"].replace(
        "FROM documents", "FROM documents WHERE doc_id % 7 != 0"
    )
    # round 12: the IVF delete oracle IS the rebuild without the
    # deleted vectors: posting lists assign only the remaining ids,
    # while the fixed centroid seed and the query set stay drawn from
    # the FULL table (centroids are parameters — FAISS remove_ids
    # does not retrain; queries are caller vectors)
    o["sim_ivf_delete_topk"] = o["sim_ivf_batch_topk"].replace(
        "idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg WHERE rn = 1)",
        "idx AS (SELECT vec_id, vec, nrm, cent_id FROM asg"
        " WHERE rn = 1 AND vec_id % 5 != 0)",
    )
    # round 11: CCNet tertile bucketing — wrap the KN scorer oracle as
    # a CTE, add the two exact quantile_cont thresholds (Spark's exact
    # F.percentile matches quantile_cont bit-for-bit — the
    # calibrated_quality_filter precedent) and the CASE bucketing
    o["text_kn_buckets"] = f"""
WITH base AS ({o["text_kn_score"]}),
th AS (
  SELECT ROUND(quantile_cont(ppl_proxy, 1.0 / 3.0), 6) AS t1,
         ROUND(quantile_cont(ppl_proxy, 2.0 / 3.0), 6) AS t2
  FROM base WHERE ppl_proxy IS NOT NULL
)
SELECT doc_id, ppl_proxy,
       CASE WHEN ppl_proxy IS NULL THEN 'unscored'
            WHEN ppl_proxy <= t1 THEN 'head'
            WHEN ppl_proxy <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM base CROSS JOIN th
"""
    return o
