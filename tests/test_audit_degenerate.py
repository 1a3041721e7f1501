"""Degenerate-input differentials for the r06 contract-audit conversions
(dedup_simhash, semantic_dedup): the same oracle discipline as the main
gate, on adversarial fixtures the synthetic corpus never exercises —
identical-pair theorems actually on the line, duplicate-free corpora, and
the zero-reach vacuous-flag edge."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from _diffutil import assert_df_match as _diff
from _diffutil import duck_oracle as _oracle

from bytewax_iceberg_connector_spark.plans import llm as L


def _docs_dir(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["n_chars"] = pdf["n_chars"].astype("int64")
    pdf.to_parquet(tmp_path / "documents.parquet")
    return str(tmp_path)


def _emb_dir(tmp_path, vecs, labels=None):
    n = len(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels or [0] * n, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def test_simhash_audit_identical_pair_theorem_on_fixture(spark, tmp_path):
    """A corpus whose only jaccard-≥0.8 pair is an IDENTICAL pair puts the
    ident_found theorem genuinely on the line (inter == |A| == |B| forces
    found == 1, not the vacuous branch); the whole audit frame must match
    the oracle."""
    text = "alpha beta gamma delta epsilon zeta eta theta"
    d = _docs_dir(
        tmp_path,
        [
            (0, text, "en", "s", len(text)),
            (1, text, "en", "s", len(text)),  # exact duplicate of 0
            (2, "one two three four five six seven", "en", "s", 33),
            (3, "unrelated words entirely different corpus", "en", "s", 41),
        ],
    )
    sp = L.dedup_simhash(spark, d).toPandas()
    assert len(sp) == 1
    assert (sp.doc_a.iloc[0], sp.doc_b.iloc[0]) == (0, 1)
    assert sp.jaccard.iloc[0] == 1.0
    assert sp.ident_found.iloc[0] == 1 and sp.recall_ok.iloc[0] == 1
    _diff(sp, _oracle(tmp_path, L._SQL_SIMHASH_AUDIT))


def test_simhash_audit_duplicate_free_corpus_is_empty(spark, tmp_path):
    """No pair reaches jaccard 0.8 → the audit frame is empty on BOTH
    engines (no phantom rows from the simhash side: candidates that fail
    the exact-jaccard bar never enter the output)."""
    d = _docs_dir(
        tmp_path,
        [
            (0, "alpha beta gamma delta epsilon", "en", "s", 30),
            (1, "one two three four five", "en", "s", 23),
            (2, "red green blue yellow purple", "en", "s", 28),
        ],
    )
    sp = L.dedup_simhash(spark, d).toPandas()
    assert len(sp) == 0
    _diff(sp, _oracle(tmp_path, L._SQL_SIMHASH_AUDIT))


def _admitted_ids(n):
    """Python twin of the r07 audit-slice admission predicate
    (``plans/llm._emb_sample_admit``): vec_id admitted iff the first 24
    bits of md5('emb:'‖id) mod 1e6 fall under _EMB_SAMPLE_PPM."""
    import hashlib

    return [
        i
        for i in range(n)
        if int(hashlib.md5(f"emb:{i}".encode()).hexdigest()[:6], 16) % 1_000_000
        < L._EMB_SAMPLE_PPM
    ]


def test_semantic_audit_zero_reach_vacuous_flags(spark, tmp_path):
    """Mutually orthogonal embeddings: no cosine reaches τ, so
    n_dup_reach = 0 and the theorems force Σdropped = 0; coverage_ok must
    go VACUOUSLY green (0 ≥ ppm·0), not divide by the zero reach. Since
    r07 the audit runs on the hash-admitted slice, so n_vectors is the
    ADMITTED count, not the corpus count."""
    n = 40
    vecs = [[1.0 if j == i else 0.0 for j in range(n)] for i in range(n)]
    d = _emb_dir(tmp_path, vecs)
    sp = L.semantic_dedup(spark, d).toPandas()
    assert len(sp) == 1
    r = sp.iloc[0]
    n_adm = len(_admitted_ids(n))
    assert n_adm > 0  # fixture must actually exercise the slice
    assert r.n_vectors == n_adm and r.n_dup_reach == 0
    assert (
        r.members_conserved == 1
        and r.dropped_bounded == 1
        and r.coverage_ok == 1
        and r.cells_ok == 1
    )
    _diff(sp, _oracle(tmp_path, L._SQL_SEMANTIC_AUDIT))


def test_semantic_audit_planted_identical_vectors_are_dropped(spark, tmp_path):
    """Identical vectors always share a k-means cell (identical distances
    → identical argmin), so the greedy prune MUST drop the later copy.
    Three duplicate pairs are planted at ADMITTED vec_ids so reach = 3
    meets _SEM_MIN_REACH and BOTH dropped_bounded and coverage_ok are
    exercised on their non-vacuous branches under the r07 audit slice."""
    n = 40
    adm = _admitted_ids(n)
    assert len(adm) >= 6
    vecs = [[1.0 if j == i else 0.0 for j in range(n)] for i in range(n)]
    planted = 0
    for a, b in zip(adm[:3], adm[-3:]):  # three disjoint admitted pairs
        vecs[b] = vecs[a][:]
        planted += 1
    assert planted == L._SEM_MIN_REACH
    d = _emb_dir(tmp_path, vecs)
    sp = L.semantic_dedup(spark, d).toPandas()
    r = sp.iloc[0]
    assert r.n_vectors == len(adm) and r.n_dup_reach == planted
    assert (
        r.members_conserved == 1
        and r.dropped_bounded == 1
        and r.coverage_ok == 1
        and r.cells_ok == 1
    )
    _diff(sp, _oracle(tmp_path, L._SQL_SEMANTIC_AUDIT))


def test_semantic_null_labels_ride_through_assign_carry(spark, tmp_path):
    """NULL vector labels cross the fused assign kernel (``_assign_carry``)
    as an Arrow int column with nulls, i.e. pandas float NaN, and must come
    back out as int nulls; ``_prune_cell`` buckets them as label -1. Four
    in five labels are NULL, so some cell's top label must be the -1
    bucket (ties go to -1, the smaller value), and the audit built on the
    same kernel must still match its oracle."""
    n = 40
    adm = _admitted_ids(n)
    vecs = [[1.0 if j == i else 0.0 for j in range(n)] for i in range(n)]
    for a, b in zip(adm[:3], adm[-3:]):
        vecs[b] = vecs[a][:]
    labels = [7 if i % 5 == 0 else None for i in range(n)]
    d = _emb_dir(tmp_path, vecs, labels)
    cells = L._semantic_cells(spark, d).toPandas()
    assert cells.n_members.sum() == n
    assert set(cells.top_label) <= {-1, 7} and -1 in set(cells.top_label)
    sp = L.semantic_dedup(spark, d).toPandas()
    r = sp.iloc[0]
    assert r.n_vectors == len(adm) and r.n_dup_reach == 3
    assert r.members_conserved == 1 and r.dropped_bounded == 1
    _diff(sp, _oracle(tmp_path, L._SQL_SEMANTIC_AUDIT))
