"""M0 smoke: the flagship entry() runs end-to-end and inference matches a
single-process NumPy oracle (SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"label", "n", "n_correct", "class_accuracy"} <= cols


def test_inference_matches_numpy_oracle(spark):
    """Spark-scored predictions must EQUAL local single-process NumPy
    predictions on the same rows (deterministic model)."""
    from embarrassingly_parallel_image_classification_spark.ml.inference import (
        fit_centroids,
        nearest_centroid_predict,
        score_embeddings,
    )
    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    emb = t(spark, SF_SMOKE, "embeddings")
    cents, labels = fit_centroids(emb)

    # Local oracle: load the same parquet with pyarrow, predict in-process.
    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    pdf = tbl.to_pandas().sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].to_numpy())
    want = nearest_centroid_predict(X, cents, labels)

    got = (
        score_embeddings(spark, SF_SMOKE)
        .orderBy("vec_id")
        .toPandas()["pred"]
        .to_numpy()
    )
    assert (got == want).all()

    # Sanity: better than chance (10 classes => chance = 0.1). The synthetic
    # embeddings are mostly noise, so absolute accuracy is low; determinism
    # (the equality above) is the real contract.
    acc = (pdf["label"].to_numpy() == want).mean()
    assert acc > 0.15, f"nearest-centroid accuracy at/below chance: {acc}"


def test_flagship_matches_numpy_oracle(spark):
    """Per-class n / n_correct / max_confused_n of the flagship must
    EQUAL counts over local NumPy predictions on the same parquet, and
    class_accuracy must be their rounded ratio. The final adaptive plan
    must scan the table once and cross the Arrow boundary once: a
    second ArrowEvalPython or FileScan means every row is scored twice."""
    from embarrassingly_parallel_image_classification_spark.ml.inference import (
        fit_centroids,
        flagship,
        nearest_centroid_predict,
    )
    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    cents, labels = fit_centroids(t(spark, SF_SMOKE, "embeddings"))
    pdf = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    y = pdf["label"].to_numpy()
    pred = nearest_centroid_predict(np.stack(pdf["embedding"].to_numpy()), cents, labels)
    want = {}
    for c in np.unique(y):
        mine = pred[y == c]
        wrong = mine[mine != c]
        want[int(c)] = (
            int(mine.size),
            int((mine == c).sum()),
            int(np.bincount(wrong).max()) if wrong.size else 0,
        )

    df = flagship(spark, SF_SMOKE)
    rows = df.collect()
    assert [r["label"] for r in rows] == sorted(want)
    got = {r["label"]: (r["n"], r["n_correct"], r["max_confused_n"]) for r in rows}
    assert got == want
    for r in rows:
        assert abs(r["class_accuracy"] - r["n_correct"] / r["n"]) <= 1e-6, r

    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, plan
    assert final.count("ArrowEvalPython") == 1, final
    assert final.count("FileScan parquet") == 1, final


def test_flagship_perfectly_separable(spark, tmp_path):
    """Degenerate input: no row is misclassified, so no class has a
    pred ≠ label confusion cell. max_confused_n must read 0 (not NULL)
    and every class_accuracy 1.0."""
    import pyarrow as pa

    from embarrassingly_parallel_image_classification_spark.ml.inference import flagship

    y = np.repeat(np.arange(3, dtype=np.int32), 4)
    X = 10.0 * np.eye(4, dtype=np.float32)[y] + 0.01 * np.arange(y.size, dtype=np.float32)[:, None]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(y.size, dtype=np.int64)),
                "embedding": pa.array(list(X), type=pa.list_(pa.float32())),
                "label": pa.array(y),
            }
        ),
        tmp_path / "embeddings.parquet",
    )

    rows = flagship(spark, str(tmp_path)).collect()
    assert [(r["label"], r["n"], r["n_correct"], r["max_confused_n"]) for r in rows] == [
        (0, 4, 4, 0),
        (1, 4, 4, 0),
        (2, 4, 4, 0),
    ]
    assert all(r["class_accuracy"] == 1.0 for r in rows)


def test_predict_batch_udf_agrees_with_iterator_udf(spark):
    """The two J1 formulations (Iterator pandas UDF vs
    pyspark.ml predict_batch_udf) must produce identical predictions."""
    from embarrassingly_parallel_image_classification_spark.ml.inference import (
        score_embeddings,
        score_embeddings_pbu,
    )

    a = score_embeddings(spark, SF_SMOKE).orderBy("vec_id").toPandas()
    b = score_embeddings_pbu(spark, SF_SMOKE).orderBy("vec_id").toPandas()
    assert (a["pred"].to_numpy() == b["pred"].to_numpy()).all()


def test_registry_contract(spark):
    """Every oracle key has a query; names are well-formed."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(n.startswith("q_") for n in qs)


def test_registry_driver_window_ordering():
    """The driver verifies a PREFIX of queries() (50 entries observed in
    round 1), so ordering is part of the contract:
      * every slot in the first 45 must be oracle-backed — a rows-only
        query there wastes a full-verification slot; the LAST <=5 may
        be the rows-only tail (r9 verdict item 2: the driver records
        its weaker rows-only check for them);
      * any rows-only query NOT in the tail must sort after every
        oracle-backed one;
      * queries fixed/changed this round and the rotation's
        never-yet-verified picks must sit inside the window."""
    from embarrassingly_parallel_image_classification_spark import registry

    specs = registry.specs()
    names = list(specs)
    window = names[:50]
    assert all(specs[n].oracle is not None for n in window[:45]), [
        n for n in window[:45] if specs[n].oracle is None
    ]
    # rows-only entries inside the window must form a contiguous TAIL
    # (never ahead of an oracle-backed slot they could have displaced)
    ro_in_window = [i for i, n in enumerate(window) if specs[n].oracle is None]
    if ro_in_window:
        assert ro_in_window == list(range(50 - len(ro_in_window), 50))
    # outside the priority tuple, rows-only still sorts last
    from embarrassingly_parallel_image_classification_spark.registry import (
        _DRIVER_PRIORITY as _PRIO,
    )

    non_prio = [n for n in names if n not in _PRIO]
    first_rows_only = min(
        i for i, n in enumerate(non_prio) if specs[n].oracle is None
    )
    last_oracle = max(
        i for i, n in enumerate(non_prio) if specs[n].oracle is not None
    )
    assert first_rows_only > last_oracle
    must_be_inside = {
        # round-12 window (r11 verdict item 1): spot-check of the 50
        # never-driver-verified session-2 registrations that fill the
        # whole window (61 exist; 11 overflow to round 13; the full
        # 50-name tuple is pinned in registry._DRIVER_PRIORITY; update
        # these alongside each rotation). No rows-only tail this round:
        # never-verified oracle queries always fill the window first.
        "q_agg_kmv_distinct", "q_timeseries_holt_winters",
        "q_timeseries_decompose", "q_timeseries_croston",
        "q_stats_cochran_q", "q_stats_jonckheere", "q_stats_friedman",
        "q_ts_ljung_box", "q_stats_brown_forsythe", "q_ts_granger",
        "q_stats_dunn", "q_stats_tukey", "q_stats_games_howell",
        "q_stats_mahalanobis", "q_ab_power", "q_agg_trimmed_mean",
        "q_graph_kcore", "q_fn_try_arithmetic", "q_fn_luhn",
        "q_eval_brier", "q_knn_hamming_postdedup", "q_knn_sq8",
        "q_knn_self_join", "q_text_winnowing", "q_text_symspell",
        "q_dedup_minhash_affine",
    }
    assert must_be_inside <= set(window), must_be_inside - set(window)
    # rotation slots (stale-green re-proof) fill whatever window slots
    # remain after the never-verified set
    canaries = {
        "q_tpch_q9", "q_stream_tumbling", "q_dedup_ngram_jaccard",
        "q_window_firstlast", "q_join_asof", "q_text_chunking",
        "q_agg_basic", "q_knn_exact",
    }
    # a canary may occupy a window slot ONLY when every non-canary
    # priority entry (the never-verified rotation picks) already fits
    # inside the window — the first-cut assertion here was a tautology
    # that could never fail (review finding)
    from embarrassingly_parallel_image_classification_spark.registry import (
        _DRIVER_PRIORITY,
    )

    non_canary_priority = [n for n in _DRIVER_PRIORITY if n not in canaries]
    if canaries & set(window):
        assert set(non_canary_priority) <= set(window), (
            "canaries crowd never-verified queries out of the window: "
            f"{sorted(set(non_canary_priority) - set(window))}"
        )


def test_observation_metrics_match_independent_agg(spark):
    """q_observe_metrics' observed counters (collected during the main
    query's execution, no extra pass) must equal a separately-computed
    aggregation over the same filter."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from embarrassingly_parallel_image_classification_spark.sources.tables import t
    from tests.conftest import SF_T2

    li = t(spark, SF_T2, "lineitem").filter(F.col("l_quantity") >= 25)
    obs = Observation("audit_test")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(cents).alias("cents_seen"),
    )
    observed.groupBy("l_linestatus").count().collect()  # trigger execution
    expected = li.agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c")
    ).collect()[0]
    assert obs.get["rows_seen"] == expected["n"]
    assert obs.get["cents_seen"] == expected["c"]


def test_twin_pairs_share_one_definition():
    """Batch queries and their streaming twins must draw thresholds,
    oracles and shared algebra from ONE module-level definition, so
    the documented batch/stream equivalence cannot silently drift
    (r7 verdict item 8 — the rule the Gopher constants already
    followed, asserted for every twin pair):

      * EWMA / TWAP: the twin pairs register the IDENTICAL oracle
        object (not an equal copy);
      * Gopher gate: the streaming module imports the ml.curation
        constants (no literal re-spelling);
      * reconcile: both spellings call the shared row_fingerprint60 /
        checksum_report helpers;
      * drift: both call ml.cleaning.drift_report — neither re-spells
        the dxr/tvd_e6 algebra inline."""
    import inspect

    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.ml import cleaning, curation
    from embarrassingly_parallel_image_classification_spark.operators import timeseries
    from embarrassingly_parallel_image_classification_spark.streaming import (
        queries as sq,
    )

    specs = registry.specs()
    # oracle-object identity for the EWMA/TWAP pairs
    assert specs["q_stream_ewma"].oracle is specs["q_timeseries_ewma"].oracle
    assert specs["q_stream_ewma"].oracle is timeseries.EWMA_ORACLE
    assert specs["q_stream_twap"].oracle is specs["q_timeseries_twap"].oracle
    assert specs["q_stream_twap"].oracle is timeseries.TWAP_ORACLE
    # Gopher constants: the streaming gate's oracle interpolates the
    # curation module's values; its source must not re-spell them
    gate_src = inspect.getsource(sq.q_stream_quality_gate)
    assert "BETWEEN 20 AND 90" not in gate_src, (
        "gopher word bounds re-spelled in twin"
    )
    assert sq.GOPHER_WORDS is curation.GOPHER_WORDS
    assert sq.GOPHER_MEANLEN_E1 is curation.GOPHER_MEANLEN_E1
    assert sq.GOPHER_MIN_STOP is curation.GOPHER_MIN_STOP
    # reconcile + drift: twins call the one shared helper, and the
    # algebra never appears inline in either body
    for fn in (sq.q_stream_reconcile,):
        src = inspect.getsource(fn)
        assert "row_fingerprint60" in src and "checksum_report" in src
    for fn, helper in (
        (sq.q_stream_drift, "drift_report"),
        (cleaning.q_quality_drift, "drift_report"),
    ):
        src = inspect.getsource(fn)
        assert helper in src, f"{fn.__name__} lost the shared {helper}"
        assert "DIV (rt * ct)" not in src, (
            f"{fn.__name__} re-spells the drift algebra inline"
        )
