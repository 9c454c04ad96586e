"""`corpus_release_incremental` — the DAILY-CRAWL composition of the
incremental members (r13 verdict item 1), registered as ONE key: a new
document batch flows

    clean (quality + exact-dedup vs STORED fingerprints)
      → incremental near-dedup (MinHash bands vs STORED keeper
        signatures, then CC cluster-min within the batch)
      → decontaminate (vs the STORED benchmark 5-gram set)
      → mix (per-language hash-threshold down-weighting)
      → tokenize-pack APPEND (next-fit CONTINUED from stored per-shard
        cursors)

and is published as ONE OCC commit against the release manifest.

Why these stage rules compose (the math the key attests):

- MinHash signatures and band keys are PER-DOC (corpus-independent),
  so the near-dup pair relation over base ∪ batch is exactly
  pairs(base) ∪ pairs(batch × base) ∪ pairs(batch) — unlike the
  df-capped n-gram generator of `corpus_release_end2end`, whose cap is
  a corpus-level statistic and therefore does NOT compose (a batch can
  push a shingle over the cap and retract base pairs).
- The keep rule is EPOCH-SEQUENTIAL and retraction-free — the
  production contract that already-published docs are never recalled:
  epoch-0 keeps CC-cluster-min over base pairs; a batch doc is dropped
  iff it banded-est-matches a RETAINED base keeper, and the survivors
  then keep CC-cluster-min over batch-internal pairs. A one-shot run
  over base ∪ batch under the same epoch-aware rule is therefore
  IDENTICAL to the incremental run — that identity (not a weaker
  "similar counts") is what `incremental_equals_rebuild` attests.
- The benchmark set is FROZEN at base time (epoch-0 docs with
  doc_id % 97 == 0): new crawl docs are checked against the stored
  benchmark shingles; benchmark membership does not grow with the
  crawl, so base survivors can never be retro-contaminated.
- Mixing is a per-doc hash threshold (composes trivially), and
  next-fit packing is a LEFT FOLD over (epoch, shuffle-key, doc_id)
  order, so continuation from the stored (open_bin, fill) cursor is
  exact: fold(base ++ batch) == fold_from(fold(base), batch)
  (operators/packing.py::pack_sequences `cursors=`).

Scale shape: the incremental flow reads ONLY the day's batch and the
state artifacts — batch×keeper candidates come from a band equi-join
(never corpus×corpus), the benchmark shingle set is broadcast, and the
append touches one new parquet shard per artifact plus an 8-row cursor
table. `locality_batch_only` pins this by asserting that no audited
stage plan has an inputFile under the original corpus directory.
Publication is one `commit_with_conflict_detection` (manifest v2) whose
read_set names every state artifact the flow read, so a concurrent
rewrite of any of them aborts the append instead of losing the update.

The DuckDB oracle recomputes the ENTIRE epoch-aware chain one-shot —
signatures, band collisions, two recursive-CTE connected-components
passes, benchmark overlap, mixing, and the recursive pack fold over the
union — so every stage's (n_docs, id_checksum, n_tokens, n_bins) row is
cross-engine value-attested against an independent implementation of
the composition semantics.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    exploded_shingles,
    fingerprint_col,
    quality_score_col,
    tokens_col,
)
from ..functions.overlap import concurrent_values
from ..sources import load_table
from .dedup import _INC_BANDS, _INC_NH, _INC_THR
from .registry import query
from .release import _HASH_SQL, _REL_CAPACITY, _REL_Q_MIN, _REL_SHARDS
from .text import DECON_K, EVAL_MOD, MIX_RATES, _MIX_VALUES_SQL, _SQL_TOKS, quality_sql

#: epoch split: every 5th doc plays "today's crawl batch" (~20%), the
#: rest the standing corpus the base release was built from.
_BATCH_SQL = "doc_id % 5 = 4"

_NB_R = _INC_NH // _INC_BANDS  # rows per band


def _inc_oracle() -> str:
    """DuckDB twin of the epoch-aware composition (module docstring):
    the one-shot rebuild over base ∪ batch whose equality with the
    incremental path is the key's design theorem. Generated from the
    same constants as the Spark plan so the engines cannot drift."""
    mh = ",\n             ".join(
        f"min(CAST(('0x' || substring(md5('{i}:' || sh), 1, 15)) AS BIGINT))"
        f" AS mh_{i}"
        for i in range(_INC_NH)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {cat} AS band_key FROM m".format(
            b=b,
            cat=" || ',' || ".join(
                f"CAST(mh_{b * _NB_R + j} AS VARCHAR)" for j in range(_NB_R)
            ),
        )
        for b in range(_INC_BANDS)
    )
    agree = " + ".join(
        f"CAST(ma.mh_{i} = mb.mh_{i} AS INT)" for i in range(_INC_NH)
    )
    g3 = (
        "unnest(list_transform(range(1, len(toks) - 1),"
        " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
    )
    g5 = (
        f"unnest(list_transform(range(1, len(toks) - {DECON_K - 2}),"
        " i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]"
        " || ' ' || toks[i+3] || ' ' || toks[i+4]))"
    )
    return f"""
    WITH RECURSIVE
    t AS MATERIALIZED (
      SELECT doc_id, lang, toks,
             CASE WHEN {_BATCH_SQL} THEN 1 ELSE 0 END AS epoch
      FROM (SELECT doc_id, lang, {_SQL_TOKS} AS toks, text FROM documents)
    ),
    scored AS MATERIALIZED (
      SELECT doc_id, lang, toks, epoch,
             CAST(len(toks) AS BIGINT) AS n_tok,
             {quality_sql("toks", "array_to_string(toks, ' ')")} AS q,
             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
      FROM t
    ),
    clean0 AS MATERIALIZED (
      SELECT doc_id, lang, toks, n_tok, fp FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored WHERE epoch = 0 AND q >= {_REL_Q_MIN}) WHERE rn = 1
    ),
    cleanb AS MATERIALIZED (
      SELECT doc_id, lang, toks, n_tok FROM (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored WHERE epoch = 1 AND q >= {_REL_Q_MIN}
          AND fp NOT IN (SELECT fp FROM clean0)) WHERE rn = 1
    ),
    cleanu AS MATERIALIZED (
      SELECT doc_id, toks FROM clean0 UNION ALL SELECT doc_id, toks FROM cleanb
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id, {g3} AS sh FROM cleanu WHERE len(toks) >= 3)
    ),
    m AS MATERIALIZED (
      SELECT doc_id,
             {mh}
      FROM sh GROUP BY doc_id
    ),
    b AS MATERIALIZED (
      {band_rows}
    ),
    est0 AS MATERIALIZED (
      SELECT DISTINCT c.id_a, c.id_b FROM (
        SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        FROM b a JOIN b bb
          ON a.band = bb.band AND a.band_key = bb.band_key
         AND a.doc_id < bb.doc_id
        JOIN clean0 ca ON ca.doc_id = a.doc_id
        JOIN clean0 cb ON cb.doc_id = bb.doc_id) c
      JOIN m ma ON ma.doc_id = c.id_a
      JOIN m mb ON mb.doc_id = c.id_b
      WHERE ({agree}) * 1.0 / {_INC_NH} >= {_INC_THR}
    ),
    und0 AS (
      SELECT id_a AS src, id_b AS dst FROM est0
      UNION SELECT id_b, id_a FROM est0
    ),
    walk0(node, label) AS (
      SELECT DISTINCT src, src FROM und0
      UNION
      SELECT u.dst, w.label FROM walk0 w JOIN und0 u ON u.src = w.node
      WHERE w.label < u.dst
    ),
    clus0 AS (SELECT node, min(label) AS cluster_id FROM walk0 GROUP BY node),
    keep0 AS MATERIALIZED (
      SELECT c.* FROM clean0 c
      WHERE c.doc_id NOT IN (SELECT node FROM clus0 WHERE node <> cluster_id)
    ),
    matchedb AS MATERIALIZED (
      SELECT DISTINCT a.doc_id
      FROM b a JOIN b bb ON a.band = bb.band AND a.band_key = bb.band_key
      JOIN cleanb ca ON ca.doc_id = a.doc_id
      JOIN keep0 kb ON kb.doc_id = bb.doc_id
      JOIN m ma ON ma.doc_id = a.doc_id
      JOIN m mb ON mb.doc_id = bb.doc_id
      WHERE ({agree}) * 1.0 / {_INC_NH} >= {_INC_THR}
    ),
    remb AS MATERIALIZED (
      SELECT * FROM cleanb
      WHERE doc_id NOT IN (SELECT doc_id FROM matchedb)
    ),
    estb AS MATERIALIZED (
      SELECT DISTINCT c.id_a, c.id_b FROM (
        SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        FROM b a JOIN b bb
          ON a.band = bb.band AND a.band_key = bb.band_key
         AND a.doc_id < bb.doc_id
        JOIN remb ca ON ca.doc_id = a.doc_id
        JOIN remb cb ON cb.doc_id = bb.doc_id) c
      JOIN m ma ON ma.doc_id = c.id_a
      JOIN m mb ON mb.doc_id = c.id_b
      WHERE ({agree}) * 1.0 / {_INC_NH} >= {_INC_THR}
    ),
    undb AS (
      SELECT id_a AS src, id_b AS dst FROM estb
      UNION SELECT id_b, id_a FROM estb
    ),
    walkb(node, label) AS (
      SELECT DISTINCT src, src FROM undb
      UNION
      SELECT u.dst, w.label FROM walkb w JOIN undb u ON u.src = w.node
      WHERE w.label < u.dst
    ),
    clusb AS (SELECT node, min(label) AS cluster_id FROM walkb GROUP BY node),
    keepb AS MATERIALIZED (
      SELECT c.* FROM remb c
      WHERE c.doc_id NOT IN (SELECT node FROM clusb WHERE node <> cluster_id)
    ),
    evsh AS MATERIALIZED (
      SELECT DISTINCT sh FROM (
        SELECT {g5} AS sh FROM t
        WHERE epoch = 0 AND doc_id % {EVAL_MOD} = 0 AND len(toks) >= {DECON_K})
    ),
    contam0 AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, {g5} AS sh FROM keep0 WHERE len(toks) >= {DECON_K}) x
      JOIN evsh USING (sh)
    ),
    decon0 AS MATERIALIZED (
      SELECT doc_id, lang, n_tok FROM keep0
      WHERE doc_id % {EVAL_MOD} <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contam0)
    ),
    contamb AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, {g5} AS sh FROM keepb WHERE len(toks) >= {DECON_K}) x
      JOIN evsh USING (sh)
    ),
    deconb AS MATERIALIZED (
      SELECT doc_id, lang, n_tok FROM keepb
      WHERE doc_id NOT IN (SELECT doc_id FROM contamb)
    ),
    rates(lang, keep_permille) AS (VALUES {_MIX_VALUES_SQL}),
    mixed0 AS MATERIALIZED (
      SELECT d.doc_id, d.n_tok, 0 AS epoch FROM decon0 d JOIN rates r USING (lang)
      WHERE {_HASH_SQL} % 1000 < r.keep_permille
    ),
    mixedb AS MATERIALIZED (
      SELECT d.doc_id, d.n_tok, 1 AS epoch FROM deconb d JOIN rates r USING (lang)
      WHERE {_HASH_SQL} % 1000 < r.keep_permille
    ),
    mixedu AS (SELECT * FROM mixed0 UNION ALL SELECT * FROM mixedb),
    sharded AS MATERIALIZED (
      SELECT doc_id, n_tok, epoch,
             CAST(({_HASH_SQL} % 4294967296) % {_REL_SHARDS} AS VARCHAR) AS shard,
             row_number() OVER (
               PARTITION BY ({_HASH_SQL} % 4294967296) % {_REL_SHARDS}
               ORDER BY epoch, {_HASH_SQL} % 4294967296, doc_id) AS rn
      FROM mixedu
    ),
    packfold(doc_id, n_tok, epoch, shard, rn, bin_id, fill) AS (
      SELECT doc_id, n_tok, epoch, shard, rn, CAST(0 AS BIGINT), n_tok
      FROM sharded WHERE rn = 1
      UNION ALL
      SELECT s.doc_id, s.n_tok, s.epoch, s.shard, s.rn,
             CASE WHEN p.fill + s.n_tok <= {_REL_CAPACITY}
                  THEN p.bin_id ELSE p.bin_id + 1 END,
             CASE WHEN p.fill + s.n_tok <= {_REL_CAPACITY}
                  THEN p.fill + s.n_tok ELSE s.n_tok END
      FROM packfold p JOIN sharded s ON s.shard = p.shard AND s.rn = p.rn + 1
    ),
    stage_rows AS (
      SELECT 'base_packed' AS stage, count(*) AS n_docs,
             sum(doc_id) AS id_checksum, sum(n_tok) AS n_tokens,
             count(DISTINCT shard || ':' || CAST(bin_id AS VARCHAR)) AS n_bins
      FROM packfold WHERE epoch = 0
      UNION ALL
      SELECT 'batch_raw', count(*), sum(doc_id),
             sum(CAST(len(toks) AS BIGINT)), NULL
      FROM t WHERE epoch = 1
      UNION ALL
      SELECT 'batch_clean', count(*), sum(doc_id), sum(n_tok), NULL FROM cleanb
      UNION ALL
      SELECT 'batch_neardup', count(*), sum(doc_id), sum(n_tok), NULL FROM keepb
      UNION ALL
      SELECT 'batch_decontaminated', count(*), sum(doc_id), sum(n_tok), NULL
      FROM deconb
      UNION ALL
      SELECT 'batch_mixed', count(*), sum(doc_id), sum(n_tok), NULL FROM mixedb
      UNION ALL
      SELECT 'batch_packed', count(*), sum(doc_id), sum(n_tok),
             (SELECT count(*) FROM
                (SELECT DISTINCT shard, bin_id FROM packfold))
      FROM packfold WHERE epoch = 1
    )
    SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(id_checksum AS BIGINT) AS id_checksum,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_bins AS BIGINT) AS n_bins,
           TRUE AS incremental_equals_rebuild,
           TRUE AS locality_batch_only,
           TRUE AS occ_commit_ok
    FROM stage_rows
    """


def _scored(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text, n_tok, q, fp) behind a 1:1 Generate barrier
    so tokenization runs once per consumer tree (release.py pattern)."""
    bar = docs.select(
        "doc_id", "lang", "text",
        F.explode(F.array(tokens_col(F.col("text")))).alias("toks"),
    )
    return bar.select(
        "doc_id", "lang", "text", "toks",
        F.size("toks").cast("bigint").alias("n_tok"),
        quality_score_col("text", F.col("toks")).alias("q"),
        fingerprint_col(F.col("toks")).alias("fp"),
    )


def _signatures(clean: DataFrame) -> DataFrame:
    """Portable-md5 MinHash signatures (mh_0..mh_{_INC_NH-1}) per doc;
    docs with < 3 tokens emit no row (and keep trivially downstream)."""
    from ..operators.dedup import _minhash_expr

    shing = exploded_shingles(clean.select("doc_id", "text"), "doc_id", "text", 3, "shingle")
    mins = [
        F.min(_minhash_expr("md5_portable", i, F.col("shingle"))).alias(f"mh_{i}")
        for i in range(_INC_NH)
    ]
    return shing.groupBy("doc_id").agg(*mins)


def _bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — one row per band per signed doc."""
    pieces = [
        sig.select(
            "doc_id",
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[F.col(f"mh_{b * _NB_R + j}").cast("string") for j in range(_NB_R)],
            ).alias("band_key"),
        )
        for b in range(_INC_BANDS)
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _est_pairs(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    small_left: bool = False,
) -> DataFrame:
    """Filter (id_a, id_b) candidates to est-Jaccard ≥ threshold using
    the two sides' signature frames.

    ``small_left=True`` declares that `cand` and `sig_a` are both
    O(day's batch) by design (the incremental flow's invariant — the
    module docstring's scale shape): the candidate⋈sig_a product is
    broadcast so the corpus-sized `sig_b` is probed in place instead of
    shuffled (guide §3.1 — size estimates after groupBy/checkpoint
    chains are unreliable, so the knowledge is stated as a hint). The
    epoch-0 rebuild calls keep the default shuffle path: there BOTH
    sides are corpus-sized."""
    sa = sig_a.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(_INC_NH)],
    )
    sb = sig_b.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_INC_NH)],
    )
    agree = None
    for i in range(_INC_NH):
        term = (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        agree = term if agree is None else agree + term
    left = cand.join(F.broadcast(sa) if small_left else sa, "id_a")
    if small_left:
        left = F.broadcast(left)
    return (
        left.join(sb, "id_b")
        .filter(agree * 1.0 / _INC_NH >= _INC_THR)
        .select("id_a", "id_b")
    )


def _batch_flow(
    scored_b: DataFrame,
    fps0: DataFrame,
    sigs_keep0: DataFrame,
    evsh: DataFrame,
    rates: DataFrame,
) -> dict[str, DataFrame]:
    """The epoch-1 rule set (module docstring), parameterized by WHERE
    the epoch-0 state comes from: the incremental path passes
    parquet-read state artifacts, the rebuild twin passes its own
    in-memory epoch-0 frames — ONE definition of the semantics, two
    provenances, and the equality between their outputs is exactly the
    state-round-trip fidelity the key attests."""
    from ..operators.graph import connected_components

    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    clean = (
        scored_b.filter(F.col("q") >= _REL_Q_MIN)
        .join(fps0.select("fp"), "fp", "left_anti")
        .withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        # fp rides along so the e1-state write reuses it instead of
        # re-tokenizing + re-hashing the batch (r14 optimization)
        .select("doc_id", "lang", "text", "n_tok", "fp")
    )
    sig = _signatures(clean).localCheckpoint()
    bb = _bands(sig)
    b0 = _bands(sigs_keep0)
    # the batch's band rows are O(day) by design — broadcast them so
    # the CORPUS-sized keeper band relation streams through a
    # BroadcastHashJoin instead of being shuffled 16-rows-per-keeper
    # (guide §3.1); this is the only batch×corpus equi-join in the flow
    cand = (
        F.broadcast(bb.select(F.col("doc_id").alias("id_a"), "band", "band_key"))
        .join(b0.select(F.col("doc_id").alias("id_b"), "band", "band_key"),
              ["band", "band_key"])
        .select("id_a", "id_b").distinct()
    )
    matched = _est_pairs(cand, sig, sigs_keep0, small_left=True).select(
        F.col("id_a").alias("doc_id")
    ).distinct()
    rem = clean.join(matched, "doc_id", "left_anti").localCheckpoint()
    rem_ids = rem.select("doc_id")
    bb_rem = bb.join(rem_ids, "doc_id")
    cand_in = (
        bb_rem.select(F.col("doc_id").alias("id_a"), "band", "band_key")
        .join(
            # batch-internal self-join: both sides O(day) — hint one
            F.broadcast(
                bb_rem.select(F.col("doc_id").alias("id_b"), "band", "band_key")
            ),
            ["band", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    pairs = _est_pairs(cand_in, sig, sig, small_left=True)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    dropped = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    keep = rem.join(dropped, "doc_id", "left_anti").localCheckpoint()
    contaminated = (
        exploded_shingles(keep, "doc_id", "text", DECON_K, "sh")
        .join(F.broadcast(evsh), "sh")
        .select("doc_id").distinct()
    )
    decon = keep.join(contaminated, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_tok"
    )
    key = (F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)
    mixed = (
        decon.join(F.broadcast(rates), "lang")
        .filter(key % 1000 < F.col("keep_permille"))
        .select("doc_id", "n_tok")
        .localCheckpoint()
    )
    return {"clean": clean, "sig": sig, "keep": keep, "decon": decon,
            "mixed": mixed}


@query("corpus_release_incremental", oracle=_inc_oracle())
def corpus_release_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module docstring. Stage layout: (1) the one-shot epoch-aware
    REBUILD twin is built over the full corpus and its epoch-0 half is
    persisted as the release state (keeper fingerprints + signatures,
    benchmark shingles, base pack, per-shard cursors, manifest v1);
    (2) the INCREMENTAL flow re-derives the batch's fate reading ONLY
    the batch landing zone and those parquet artifacts, packs with
    cursor continuation, and publishes one OCC commit; (3) the served
    state (base ∪ appended pack read back post-commit) is compared
    exceptAll-both-ways against the twin's one-shot union pack, and the
    batch keep/mix sets against the twin's in-memory epoch-1 frames."""
    from .scale_joins import (
        _log_read,
        _log_versions,
        atomic_claim,
        commit_with_conflict_detection,
        fixture_base,
    )

    base = fixture_base(spark, sf_dir, "relinc")
    if os.path.exists(base):
        shutil.rmtree(base)
    os.makedirs(base)

    def phase(name: str) -> None:
        # UI/REST attribution only (guide §1.5); no effect on results
        spark.sparkContext.setJobDescription(f"cri:{name}")

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    rates = spark.createDataFrame(
        list(MIX_RATES.items()), "lang string, keep_permille int"
    )
    key = (F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)
    ord_key = (key % F.lit(4294967296)).alias("ord_key")

    # ---- twin, epoch 0 == the base release build ----------------------
    # the single-file fixture scan arrives as ONE partition, so the
    # whole tokenize+score+md5 pass serialized on one task (measured:
    # 0.52 s single-task stage); _spread round-robins it across the
    # scheduler's parallelism and is a NO-OP on an already-partitioned
    # production read (guide §2.4 — the data_profile r14 pattern)
    from ..operators.dedup import _spread

    phase("scored_ckpt")
    scored = _scored(_spread(docs)).withColumn(
        "epoch", is_batch.cast("int")
    ).localCheckpoint()
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    phase("clean0")
    clean0 = (
        scored.filter((F.col("epoch") == 0) & (F.col("q") >= _REL_Q_MIN))
        .withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text", "n_tok", "fp")
        .localCheckpoint()
    )
    phase("sig0")
    sig0 = _signatures(clean0).localCheckpoint()
    from ..operators.graph import connected_components

    b0 = _bands(sig0)
    cand0 = (
        b0.select(F.col("doc_id").alias("id_a"), "band", "band_key")
        .join(b0.select(F.col("doc_id").alias("id_b"), "band", "band_key"),
              ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    phase("cc0")
    pairs0 = _est_pairs(cand0, sig0, sig0)
    cc0 = connected_components(pairs0, src="id_a", dst="id_b")
    dropped0 = cc0.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    phase("keep0")
    keep0 = clean0.join(dropped0, "doc_id", "left_anti").localCheckpoint()
    phase("evsh")
    evsh = (
        exploded_shingles(
            docs.filter((~is_batch) & (F.col("doc_id") % EVAL_MOD == 0)),
            "doc_id", "text", DECON_K, "sh",
        )
        .select("sh").distinct().localCheckpoint()
    )
    contam0 = (
        exploded_shingles(keep0, "doc_id", "text", DECON_K, "sh")
        .join(F.broadcast(evsh), "sh")
        .select("doc_id").distinct()
    )
    decon0 = (
        keep0.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(contam0, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_tok")
    )
    phase("mixed0")
    mixed0 = (
        decon0.join(F.broadcast(rates), "lang")
        .filter(key % 1000 < F.col("keep_permille"))
        .select("doc_id", "n_tok")
        .localCheckpoint()
    )
    from ..operators.packing import pack_sequences

    shard0 = mixed0.select(
        "doc_id", "n_tok", ord_key,
        ((key % F.lit(4294967296)) % _REL_SHARDS).cast("string").alias("shard"),
    )
    phase("packed0")
    packed0 = pack_sequences(
        shard0, capacity=_REL_CAPACITY, shard_col="shard",
        tokens_col="n_tok", order_col="ord_key",
    ).localCheckpoint()

    # ---- persist the release state + manifest v1 ----------------------
    phase("state_writes")
    sigs_keep0 = sig0.join(keep0.select("doc_id"), "doc_id")
    state = {
        "state_fps_base": clean0.select("fp"),
        "state_sigs_base": sigs_keep0,
        "state_evsh": evsh,
        "packed_base": packed0,
        "cursor_v1": (
            packed0.groupBy("shard")
            .agg(F.max("bin_id").alias("open_bin"))
            .join(packed0, ["shard"])
            .filter(F.col("bin_id") == F.col("open_bin"))
            .groupBy("shard", "open_bin")
            .agg(F.sum("n_tok").cast("long").alias("open_fill"))
        ),
    }
    # all six artifact writes are independent: submit them from a small
    # thread pool so each write's task tail back-fills the executors
    # freed by its siblings (guide §2.6 — actions are only sequential
    # because driver code calls them sequentially)
    def _write_all(writes: dict[str, DataFrame]) -> None:
        def write(name: str, df: DataFrame):
            return lambda: df.write.mode("overwrite").parquet(os.path.join(base, name))

        concurrent_values(*(write(n, df) for n, df in writes.items()), max_workers=3)

    writes = dict(state)
    writes["batch_raw"] = docs.filter(is_batch).select("doc_id", "lang", "text")
    _write_all(writes)
    assert atomic_claim(
        os.path.join(base, "manifest-v1.txt"), "\n".join(sorted(state))
    )

    # ---- the INCREMENTAL flow: batch landing zone + state ONLY --------
    # the epoch-1 REBUILD TWIN depends only on the in-memory epoch-0
    # frames (all checkpointed above), never on the state files the
    # incremental flow reads — so it is built CONCURRENTLY with the
    # incremental flow on a driver thread and its jobs back-fill the
    # incremental protocol's idle stretches (guide §2.6); the equality
    # section below joins the thread before comparing.
    from pyspark import InheritableThread

    twin_box: dict[str, object] = {}

    def _build_twin() -> None:
        # err-box: any failure re-raises at join below instead of
        # surfacing as KeyError('twin') (r14 ADVICE; the sibling
        # threads in similarity.py use the same pattern)
        try:
            spark.sparkContext.setJobDescription("cri:twin_e1_concurrent")
            twin = _batch_flow(
                scored.filter(F.col("epoch") == 1),
                clean0.select("fp").distinct(),
                sigs_keep0,
                evsh,
                rates,
            )
            twin_box["twin"] = twin
            # the one-shot UNION pack twin (epoch folded into the order
            # column so ONE pack_sequences call reproduces base-then-batch
            # arrival) depends only on mixed0 (checkpointed above) and the
            # twin's own mixed frame — materialize it HERE so the fold job
            # also back-fills the incremental flow instead of extending the
            # post-join critical tail (guide §2.6)
            union_mix = (
                mixed0.withColumn("epoch", F.lit(0))
                .unionByName(twin["mixed"].withColumn("epoch", F.lit(1)))
            )
            union_sharded = union_mix.select(
                "doc_id", "n_tok",
                (F.col("epoch").cast("long") * F.lit(8589934592)
                 + (key % F.lit(4294967296))).alias("o"),
                ((key % F.lit(4294967296)) % _REL_SHARDS).cast("string").alias(
                    "shard"
                ),
            )
            twin_box["twin_packed"] = pack_sequences(
                union_sharded, capacity=_REL_CAPACITY, shard_col="shard",
                tokens_col="n_tok", order_col="o",
            ).localCheckpoint()
        except BaseException as exc:  # surfaced at join
            twin_box["err"] = exc

    twin_thread = InheritableThread(target=_build_twin)
    twin_thread.start()

    audited_files: set[str] = set()

    def audit(df: DataFrame) -> DataFrame:
        audited_files.update(df.inputFiles())
        return df

    phase("inc_flow")
    batch_raw = audit(spark.read.parquet(os.path.join(base, "batch_raw")))
    fps0_s = audit(spark.read.parquet(os.path.join(base, "state_fps_base")))
    sigs0_s = audit(spark.read.parquet(os.path.join(base, "state_sigs_base")))
    evsh_s = audit(spark.read.parquet(os.path.join(base, "state_evsh")))
    cursor_s = audit(spark.read.parquet(os.path.join(base, "cursor_v1")))

    scored_b = _scored(_spread(batch_raw))
    audited_files.update(scored_b.inputFiles())
    inc = _batch_flow(
        scored_b.localCheckpoint(), fps0_s, sigs0_s, evsh_s, rates
    )
    cursors = {
        r["shard"]: (r["open_bin"], r["open_fill"]) for r in cursor_s.collect()
    }
    shard_b = inc["mixed"].select(
        "doc_id", "n_tok", ord_key,
        ((key % F.lit(4294967296)) % _REL_SHARDS).cast("string").alias("shard"),
    )
    phase("packed_b")
    packed_b = pack_sequences(
        shard_b, capacity=_REL_CAPACITY, shard_col="shard",
        tokens_col="n_tok", order_col="ord_key", cursors=cursors,
    ).localCheckpoint()

    # stage + publish as ONE OCC commit: every state artifact the flow
    # read is a declared dependency, so a concurrent rewrite of any of
    # them aborts the append (lost-update prevention, r13 ADVICE rule)
    phase("e1_state_writes")
    w_sh = Window.partitionBy("shard")
    e1_writes = {
        "packed_e1": packed_b,
        # fp was computed by the batch's own _scored pass and carried
        # through clean — reusing it here skips a second tokenize+md5
        # of every batch text (identical values by construction)
        "state_fps_e1": inc["clean"].select("fp"),
        "state_sigs_e1": inc["sig"].join(inc["keep"].select("doc_id"), "doc_id"),
        "cursor_v2": (
            packed_b.withColumn("open_bin", F.max("bin_id").over(w_sh))
            .filter(F.col("bin_id") == F.col("open_bin"))
            .groupBy("shard", "open_bin")
            .agg(F.sum("n_tok").cast("long").alias("open_fill"))
        ),
    }
    _write_all(e1_writes)
    committed_v, _ = commit_with_conflict_detection(
        base, 1,
        add=["packed_e1", "state_fps_e1", "state_sigs_e1", "cursor_v2"],
        remove=["cursor_v1"],
        read_set={"state_fps_base", "state_sigs_base", "state_evsh",
                  "cursor_v1"},
    )
    head = set(_log_read(base, _log_versions(base)[-1]))
    occ_ok = (
        committed_v == 2
        and _log_versions(base) == [1, 2]
        and head == (set(state) - {"cursor_v1"})
        | {"packed_e1", "state_fps_e1", "state_sigs_e1", "cursor_v2"}
    )

    # locality: no audited incremental plan read the original corpus
    corpus_abs = os.path.abspath(sf_dir)
    locality_ok = not any(
        corpus_abs in f for f in audited_files
    ) and len(audited_files) > 0

    # ---- twin, epoch 1 + one-shot union pack, then the equality -------
    phase("twin_e1")
    twin_thread.join()
    if "err" in twin_box:
        raise twin_box["err"]  # type: ignore[misc]
    twin: dict[str, DataFrame] = twin_box["twin"]  # type: ignore[assignment]
    twin_packed: DataFrame = twin_box["twin_packed"]  # type: ignore[assignment]
    phase("equalities")
    served = spark.read.parquet(os.path.join(base, "packed_base")).unionByName(
        spark.read.parquet(os.path.join(base, "packed_e1"))
    ).select("doc_id", "shard", "n_tok", "bin_id")
    tp = twin_packed.select("doc_id", "shard", "n_tok", "bin_id")

    def _multiset_eq(a: DataFrame, b: DataFrame) -> bool:
        """a ≡ b as multisets, as ONE job: signed union + group-count.
        Equivalent to the two-sided exceptAll-is-empty check (a row
        with nonzero signed count is exactly a row surviving one of
        the two exceptAlls) at half the shuffles and a quarter of the
        actions."""
        cols = a.columns
        diff = (
            a.withColumn("__sgn", F.lit(1))
            .unionByName(b.select(*cols).withColumn("__sgn", F.lit(-1)))
            .groupBy(*cols)
            .agg(F.sum("__sgn").alias("__d"))
            .filter(F.col("__d") != 0)
        )
        return diff.limit(1).count() == 0

    # three independent equality checks + the bin-count scalar (reads
    # only the published pack shards) — run concurrently (§2.6)
    pb_read = audit(spark.read.parquet(os.path.join(base, "packed_base")))
    pe1_read = spark.read.parquet(os.path.join(base, "packed_e1"))
    pack_eq, keep_eq, mix_eq, n_bins_total = concurrent_values(
        lambda: _multiset_eq(served, tp),
        lambda: _multiset_eq(
            inc["keep"].select("doc_id"), twin["keep"].select("doc_id")
        ),
        lambda: _multiset_eq(inc["mixed"], twin["mixed"]),
        lambda: pb_read.select("shard", "bin_id")
        .unionByName(pe1_read.select("shard", "bin_id"))
        .distinct().count(),
        max_workers=4,
    )
    equals_rebuild = pack_eq and keep_eq and mix_eq

    # ---- stage rows off the INCREMENTAL artifacts ---------------------
    def row(name: str, df: DataFrame, n_bins: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            n_bins.cast("bigint").alias("n_bins"),
        )

    phase("stage_rows")
    null_bins = F.lit(None)
    batch_raw_stats = batch_raw.select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tok")
    )
    stats = (
        row("base_packed", pb_read, F.countDistinct("shard", "bin_id"))
        .unionByName(row("batch_raw", batch_raw_stats, null_bins))
        .unionByName(row("batch_clean", inc["clean"], null_bins))
        .unionByName(row("batch_neardup", inc["keep"], null_bins))
        .unionByName(row("batch_decontaminated", inc["decon"], null_bins))
        .unionByName(row("batch_mixed", inc["mixed"], null_bins))
        .unionByName(row("batch_packed", pe1_read, F.lit(n_bins_total)))
    )
    phase("final")
    return stats.select(
        "*",
        F.lit(bool(equals_rebuild)).alias("incremental_equals_rebuild"),
        F.lit(bool(locality_ok)).alias("locality_batch_only"),
        F.lit(bool(occ_ok)).alias("occ_commit_ok"),
    )
