import contextlib
import io
import warnings

from .registry import REGISTRY, QuerySpec, oracle_sql_map, query_map  # noqa: F401
from . import registry_ext  # noqa: F401  — registers the extended inventory
from . import registry_ext2  # noqa: F401  — as-of join, multimodal, fingerprints
from . import registry_ext3  # noqa: F401  — Q7/Q15/Q19, P3/P9, md5-minhash
from . import registry_ext4  # noqa: F401  — correlated/scalar subquery TPC-H shapes
from . import registry_ext5  # noqa: F401  — quantified subqueries, pivot, grouping sets, rank family, band join
from . import registry_ext6  # noqa: F401  — dup-cluster connected components, sketch aggregates
from . import registry_ext7  # noqa: F401  — interval join, sliding windows
from . import registry_ext8  # noqa: F401  — PII redaction, label centroids, python data source
from . import registry_ext9  # noqa: F401  — range-frame windows, applyInPandas top-k
from . import registry_ext10  # noqa: F401  — corpus-prep pipeline composite
from . import registry_ext11  # noqa: F401  — incremental dedup, unpivot
from . import registry_ext12  # noqa: F401  — posexplode, map ops, multiset set ops
from . import registry_ext13  # noqa: F401  — gap-fill, n-gram top-k, stratified sample, int8 quantization
from . import registry_ext14  # noqa: F401  — repetition/quality gates, contamination, two-stage rerank, funnel
from . import registry_ext15  # noqa: F401  — sequence packing, domain-mixture rebalance, semantic dedup
from . import registry_ext16  # noqa: F401  — salted join / salted collect skew mitigation
from . import registry_ext17  # noqa: F401  — token-budget selection, unigram surprisal
from . import registry_ext18  # noqa: F401  — Bloom-membership incremental dedup
from . import registry_ext19  # noqa: F401  — deletion-neighborhood fuzzy join
from . import registry_ext20  # noqa: F401  — BM25 keyword retrieval
from . import registry_ext21  # noqa: F401  — weighted sampling, SCD2, RRF fusion
from . import registry_ext22  # noqa: F401  — Z-order layout, winsorization
from . import registry_ext23  # noqa: F401  — PageRank, mergeable HLL sketches
from . import registry_ext24  # noqa: F401  — product-quantized ANN (ADC)
from . import registry_ext25  # noqa: F401  — vocab build, curriculum buckets, negative sampling
from . import registry_ext26  # noqa: F401  — Python UDTF surface
from . import registry_ext27  # noqa: F401  — DQ expectations, z-score anomalies
from . import registry_ext28  # noqa: F401  — incremental rollup refresh
from . import registry_ext29  # noqa: F401  — cohort retention, RAG chunking, duplicate spans, profiler, triangles
from . import registry_ext30  # noqa: F401  — BPE merge training, equal-width histogram
from . import registry_ext31  # noqa: F401  — unicode normalize, markup strip, C4 sentence filter
from . import registry_ext32  # noqa: F401  — dense global ids, shard manifest
from . import registry_ext33  # noqa: F401  — inverted index, event transitions
from . import registry_ext34  # noqa: F401  — point-in-time (temporal) enrichment
from . import registry_ext35  # noqa: F401  — perceptual-hash multimodal dedup
from . import registry_ext36  # noqa: F401  — time-weighted average (LOCF)
from . import registry_ext37  # noqa: F401  — exact-sum trend/correlation statistics
from . import registry_ext38  # noqa: F401  — MMR diversified retrieval
from . import registry_ext39  # noqa: F401  — chunk→embed→pool long-doc embedding
from . import registry_ext40  # noqa: F401  — PSI distribution-drift monitor
from . import registry_ext41  # noqa: F401  — LSH recall@k retrieval evaluation
from . import registry_ext42  # noqa: F401  — asymmetric containment dedup
from . import registry_ext43  # noqa: F401  — split-leakage audit
from . import registry_ext44  # noqa: F401  — native VARIANT semi-structured type
from . import registry_ext45  # noqa: F401  — ML feature prep: target encoding, median imputation
from . import registry_ext46  # noqa: F401  — IVF-PQ (IVFADC) composed ANN
from . import registry_ext47  # noqa: F401  — TextRank keyword extraction
from . import registry_ext48  # noqa: F401  — value-gated md5 MinHash-LSH banding
from . import registry_ext49  # noqa: F401  — count-min sketch, tf-idf, sign-bit Hamming, Matryoshka prefix
from . import registry_ext50  # noqa: F401  — chunk-dedup corpus rebuild, hashed linear quality classifier
from . import registry_ext51  # noqa: F401  — distributed exact k-means
from . import registry_ext52  # noqa: F401  — label-propagation communities
from . import registry_ext53  # noqa: F401  — curation capstone: dedup-rebuild -> classifier gate
from . import registry_ext54  # noqa: F401  — per-entity EWMA (recursive-CTE oracle), MaxSim late interaction
from . import registry_ext55  # noqa: F401  — pretrain-corpus capstone: dedup -> gate -> pack in one plan
from . import registry_ext56  # noqa: F401  — boilerplate prune, bigram perplexity, threshold sweep
from . import registry_ext57  # noqa: F401  — FIM transform, preference pairs, ngram diversity, dim whitening
from . import registry_ext58  # noqa: F401  — OOV rate, langid confusion, temperature mixture, ctx-length sweep
from . import registry_ext59  # noqa: F401  — label outliers, PMI bigrams, watermark lateness profile
from . import registry_ext60  # noqa: F401  — PCA power iteration, interval overlap join, retrieval MRR
from . import registry_ext61  # noqa: F401  — kappa agreement, IVF cell balance, curriculum order, AL margin
from . import registry_ext62  # noqa: F401  — DSIR importance, EG domain reweight, padding waste, IVF churn
from . import registry_ext63  # noqa: F401  — tokenizer fertility, token budget, vocab overlap, calibration bins
from . import registry_ext64  # noqa: F401  — mixture manifest, LSH band tuning, Benford deviation
from . import registry_ext65  # noqa: F401  — join-skew profile, minhash calibration, dedup cascade
from . import registry_ext66  # noqa: F401  — capped production graph diagnostics: triangle census


def release_caches(spark) -> int:
    """Registry-boundary cache contract (r13, VERDICT r12 #9).

    The one materialization rule: a query builder that reads an
    intermediate more than once cuts it with
    ``localCheckpoint(eager=False)``, so every best-of-N rep recomputes
    it. ``eager=True`` stays only where code reads the frame before the
    action (the ``operators/graph.py`` loop driver, ``kmeans``' initial
    collect) or a write overwrites its own source (``sinks``,
    ``sketch``); ``persist`` only in streaming ``write_batch``, which
    unpersists it itself. The blocks outlive the action (Spark cannot
    drop a frame the returned plan still reads before that plan has
    run): :func:`run_each` releases them between queries; a one-shot
    caller calls this after its action.

    Call it only once the query's results are materialized: it drops
    EVERY persistent RDD of the session, and a dropped
    ``localCheckpoint`` block is lost, not recomputed — a DataFrame that
    still reads it fails on its next action.

    Returns the number of persisted RDDs released that the cache
    manager does not track (``localCheckpoint`` and RDD-level
    ``persist`` blocks): ``clearCache`` runs first and already drops
    every ``DataFrame.persist``/``cache`` entry, so those are not
    counted. 0, with a warning, when the session has no JVM
    SparkContext handle (Spark Connect, a stopped context), where only
    the catalog cache can be cleared.
    """
    # clearCache first, as safety for any DataFrame.persist a caller
    # made: unpersisting blocks while the CacheManager entry survives
    # leaves a stale entry that a LATER query with a matching plan
    # fragment recomputes into (slower than no cache at all — r7
    # scale-sweep finding, 20.9 -> 36.7 s on a persist()-using query);
    # then drop the RDDs the cache manager does not track.
    spark.catalog.clearCache()
    try:
        jrdds = spark.sparkContext._jsc.sc().getPersistentRDDs()
    except (AttributeError, NotImplementedError):
        warnings.warn(
            "release_caches: no JVM SparkContext handle; persisted RDDs "
            "were not released",
            stacklevel=2,
        )
        return 0
    n = jrdds.size()
    it = jrdds.values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    return n


def run_each(spark, action, names=None) -> dict:
    """The one registry loop: ``action(name, builder)`` for each query
    of ``query_map()`` in contract order (all of them, or those in
    ``names``), returning ``{name: result}``.

    Unknown ``names`` raise ``ValueError`` before any query runs. An
    exception from one query is recorded as that query's result, not
    raised, and :func:`release_caches` runs after every query, so a
    builder that pins blocks and then raises leaves nothing behind."""
    qs = query_map()
    if names is not None:
        unknown = sorted(set(names) - set(qs))
        if unknown:
            raise ValueError(f"unknown queries: {unknown}")
        wanted = set(names)
        qs = {n: fn for n, fn in qs.items() if n in wanted}
    results: dict = {}
    for name, builder in qs.items():
        try:
            results[name] = action(name, builder)
        except Exception as exc:  # noqa: BLE001 — one query must not end the loop
            results[name] = exc
        finally:
            release_caches(spark)
    return results


def plan_text(df, mode: str = "simple") -> str:
    """``df.explain(mode)`` as a string — the public explain API, so no
    caller reaches into the JVM for plan text."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()
