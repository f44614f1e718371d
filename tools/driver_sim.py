"""The repo's one engine-vs-DuckDB verifier: the driver's t1 smoke +
t2 oracle gate through the public surface, at any scale or sample.

It imports ``__spark_entry__``, runs ``entry()``, then each chosen
``queries()`` key against its ``oracle_sql()`` in DuckDB (row count +
sorted schema + order-insensitive value hash, ``tools/comparator.py``).
``check`` is that per-key gate and ``oracle_db`` its DuckDB setup;
Tier-1's parity test (``tests/conftest.py``) calls both, reading the
committed verdicts without writing any.

The comparison is type-faithful and float-strict
(``tools/comparator.py``, pinned by
``tests/test_driver_sim_comparator.py``): the oracle side is fetched
via ``.arrow()``, so a HUGEINT sum never hashes equal to an int64.

Usage: ``python tools/driver_sim.py [flags] [key | @set ...]``
(``--help`` lists the flags); no key runs the full registry. Key sets:

    @all_pairs    the 13 keys whose oracle is all-pairs or recursive
                  SQL that DuckDB cannot finish above sf0.01
    @full_output  the 13 keys whose output grows with the input
                  (> 500k rows at sf1), each with its sample column
    @money_tpch   the 43 TPC-H and money-grid keys
    @decade       every key minus @all_pairs and @full_output

Modes:

- ``--sample-mod N`` runs on a 1-in-N ``hash(doc_id)`` /
  ``hash(vec_id)`` sample of documents/embeddings (the other tables
  are symlinked), written to a temporary directory. The sample keeps
  the source's lengths and value ranges while bounding an all-pairs
  oracle at (n/N)² pairs.
- ``--output-sample N`` computes each full result on both engines,
  then hashes only the rows with ``knuth_hash(col, N) == 0`` on the
  key's declared sample column (bit-identical on Spark and DuckDB).
  A timestamp column hashes its epoch seconds.
- ``--oracle-only`` runs and caches the DuckDB side alone, with no
  SparkSession (pre-warming the cache for a large scale).

The audits, one command each:

    # sf1 decade: every key with a finishable, collectable oracle
    python tools/driver_sim.py --sf-dir .bench_sf1 @decade
    # sf10 money-grid and TPC-H boundary audit
    python tools/driver_sim.py --sf-dir .bench_sf10 @money_tpch
    # all-pairs keys on a 1-in-4 input sample of sf0.1
    python tools/driver_sim.py --sf-dir /root/testdata/sf0.1 --sample-mod 4 @all_pairs
    # table-sized outputs, 1-in-256 output rows
    python tools/driver_sim.py --sf-dir .bench_sf1 --output-sample 256 @full_output
    # pre-warm the oracle cache, one process per heavy key
    python tools/driver_sim.py --sf-dir /root/testdata/sf0.1 --oracle-only dedup_edit_distance

Environment: ``DUCKDB_MEM`` overrides DuckDB's memory cap (default
40% of RAM); ``DRIVER_SIM_ORACLE_CACHE=0`` recomputes every oracle;
``DRIVER_SIM_CACHE_AUDIT=K`` re-runs K cached verdicts live.
"""
import argparse
import contextlib
import hashlib
import os
import shutil
import sys
import tempfile
import time

import duckdb

import oracle_store
from comparator import first_diff, value_hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF_DIR = "/root/testdata/sf0.01"

#: Keys whose oracle is quadratic or recursive SQL that DuckDB cannot
#: finish above sf0.01; covered at scale by ``--sample-mod``.
ALL_PAIRS_KEYS = [
    "graph_cluster_keep_best",
    "graph_connected_components",
    "docs_leakage_safe_split",
    "docs_fold_contamination",
    "dedup_minhash_lsh",
    "dedup_near_jaccard",
    "dedup_ngram_jaccard",
    "dedup_edit_distance",
    "dedup_embedding_cosine",
    "dedup_threshold_sweep",
    "sim_pairs_threshold",
    "multimodal_payload_near_dup",
    "docs_subset_containment",
]

#: Keys whose output grows with the input (projected > 500k rows at
#: sf1, from the sf0.01 sizes x 100) -> the stable output column their
#: ``--output-sample`` subset hashes on. A column need not be unique
#: per row (``sessionize_gap_batch`` keeps every session of 1/N
#: users); it must be stable, present in both outputs, and keep about
#: 1/N of the rows.
FULL_OUTPUT = {
    "scan_parquet": "l_orderkey",
    "scan_with_pushdown": "l_orderkey",
    "project_compute": "l_orderkey",
    "join_left_outer": "o_orderkey",
    "join_right_outer": "o_orderkey",
    "window_running_total": "o_orderkey",
    "window_lag_lead": "event_id",
    "window_range_frame": "event_id",
    "window_first_last": "event_id",
    "sessionize_gap_batch": "user_id",
    "stream_session": "user_id",
    "stream_sliding": "window_start",
    "multimodal_features": "doc_id",
}

#: Every TPC-H shape plus each key whose output carries a money-grid
#: sum or average over an unboundedly growing group (functions/money.py
#: call sites, SCALING.md §MONEY). Float money sums are
#: magnitude-bounded, so each new decade has caught bugs that were
#: green at every smaller one.
MONEY_TPCH_KEYS = [
    "tpch_q2_min_cost_supplier",
    "tpch_q3_topk",
    "tpch_q4_late_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_revenue_delta",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_ship_delay_priority",
    "tpch_q14_promo_share",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_lead_promo_suppliers",
    "tpch_q21_sole_late_supplier",
    "tpch_q22_idle_customers",
    "agg_pricing_summary",
    "agg_global",
    "agg_having",
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "agg_conditional",
    "agg_weighted_percentile",
    "agg_salted_topk",
    "agg_multi_distinct",
    "agg_percentiles",
    "window_share_of_total",
    "window_rank_topn",
    "orders_yoy_growth",
    "orders_abc_by_segment",
    "orders_rfm_segments",
    "orders_open_backlog_by_month",
    "custdist_two_level_agg",
    "supplier_return_rate_topk",
    "merge_upsert_batch",
    "rollup_incremental_merge",
    "join_skew_events_customers",
    "join_multiway_star",
]

#: Keys whose DuckDB oracle takes minutes to hours at sf0.1 (the
#: tools/oracle_cache entries carry ``oracle_secs``:
#: docs_leakage_safe_split 6891 s, graph_cluster_keep_best 5535 s,
#: graph_connected_components 5390 s, dedup_edit_distance 3119 s, ...).
#: The cache audit skips them: one live run costs too much, and the
#: drift it looks for shows on the cheap keys equally.
HEAVY_ORACLE_KEYS = {
    "dedup_edit_distance",
    "dedup_embedding_cosine",
    "sim_pairs_threshold",
    "dedup_threshold_sweep",
    "dedup_ngram_jaccard",
    "dedup_near_jaccard",
    "dedup_minhash_lsh",
    "docs_leakage_safe_split",
    "docs_subset_containment",
    "graph_cluster_keep_best",
    "graph_connected_components",
}


def named_sets(registry) -> dict[str, list[str]]:
    """The ``@set`` names the CLI accepts, over the given registry."""
    decade = set(registry) - set(ALL_PAIRS_KEYS) - set(FULL_OUTPUT)
    return {
        "@all_pairs": list(ALL_PAIRS_KEYS),
        "@full_output": sorted(FULL_OUTPUT),
        "@money_tpch": list(MONEY_TPCH_KEYS),
        "@decade": sorted(decade),
    }


def resolve_keys(args: list[str], registry) -> list[str]:
    """Key names and ``@set`` names -> the sorted keys to run."""
    sets = named_sets(registry)
    keys: set[str] = set()
    for arg in args:
        if arg in sets:
            keys.update(sets[arg])
        elif arg in registry:
            keys.add(arg)
        else:
            raise SystemExit(f"unknown key or key set: {arg} "
                             f"(sets: {' '.join(sets)})")
    return sorted(keys)


@contextlib.contextmanager
def oracle_db(sf_dir: str | None = None):
    """An in-memory DuckDB with a view per table of ``sf_dir`` (if
    given) that spills to a private directory, removed on exit: with no
    temp_directory a decade-scale oracle (simhash's 200M-row nibble
    stream at sf10) dies OOM. The cap defaults to 40% of RAM so the
    oracle never starves the Spark JVM beside it (ADVICE r10)."""
    spill = tempfile.mkdtemp(prefix="duckdb_spill_")
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{spill}'")
        ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        default_mem = f"{max(1, ram * 2 // 5 // (1 << 30))}GB"
        con.execute(f"SET memory_limit='{os.environ.get('DUCKDB_MEM', default_mem)}'")
        if sf_dir:
            _register_views(con, sf_dir)
        yield con
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)


def _register_views(con, sf_dir: str) -> None:
    """One view per fixture table, named as the oracle SQL reads it."""
    for t in oracle_store.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


def _build_sample(con, src: str, mod: int, dst: str) -> None:
    """Write a 1-in-``mod`` hash sample of documents/embeddings to
    ``dst`` and symlink every other table from ``src``."""
    src = os.path.abspath(src)
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        con.execute(
            f"COPY (SELECT * FROM '{src}/{table}.parquet' "
            f"WHERE hash({key}) % {mod} = 0 ORDER BY {key}) "
            f"TO '{dst}/{table}.parquet' (FORMAT parquet)"
        )
    for t in oracle_store.TABLES:
        if t not in ("documents", "embeddings"):
            os.symlink(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    n_docs, n_vecs = (
        con.sql(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        for t in ("documents", "embeddings")
    )
    print(f"sample: {n_docs} docs / {n_vecs} vecs "
          f"(1-in-{mod} hash-mod of {src})", flush=True)


def _sampled_sql(con, sql: str, col: str, mod: int) -> str:
    """The oracle restricted to the ``--output-sample`` subset."""
    from bigdataprojectspring16_spark.functions.hashing import knuth_hash_sql

    typ = con.execute(f"DESCRIBE SELECT {col} FROM ({sql})").fetchone()[1]
    key = f"CAST(epoch({col}) AS BIGINT)" if typ.startswith("TIMESTAMP") else col
    return f"SELECT * FROM ({sql}) WHERE ({knuth_hash_sql(key, mod)}) = 0"


def _sampled_df(sdf, col: str, mod: int):
    """The Spark result restricted to the ``--output-sample`` subset;
    a timestamp casts to epoch seconds like DuckDB's ``epoch()``
    (both sessions run in UTC)."""
    from pyspark.sql import functions as F

    from bigdataprojectspring16_spark.functions.hashing import knuth_hash

    key = F.col(col)
    if dict(sdf.dtypes)[col] == "timestamp":
        key = key.cast("long")
    return sdf.where(knuth_hash(key, mod) == 0)


def _live(con, sql: str):
    """(verdict, rows) of executing ``sql`` now; a verdict is the
    (nrows, cols, value_hash) triple a cache entry holds. ``.arrow()``
    is the type-faithful fetch: HUGEINT becomes decimal128 (Python
    Decimal), int64 stays int, NULLs in int columns stay None (a
    pandas ``.df()`` would make them float64)."""
    otab = con.execute(sql).arrow()
    ocols = otab.column_names
    orows = [tuple(d[c] for c in ocols) for d in otab.to_pylist()]
    return {"nrows": len(orows), "cols": list(ocols),
            "value_hash": value_hash(orows, ocols)}, orows


class Oracles:
    """The DuckDB side: each verdict replayed from ``tools/oracle_cache``
    when the SQL, the parquet fingerprint and the comparator are
    unchanged (VERDICT r11 #2), else executed live. A live verdict
    waits in ``unsaved`` until :meth:`save`, which only this script
    calls: Tier-1 reads the committed cache and never writes it.
    ``DRIVER_SIM_ORACLE_CACHE=0`` recomputes everything, saves nothing."""

    def __init__(self, con, sf_dir: str):
        self.con = con
        self.sf_dir = sf_dir
        self.cache_on = os.environ.get("DRIVER_SIM_ORACLE_CACHE", "1") != "0"
        self.comp_ver = oracle_store.comparator_version()
        self.data_fp = oracle_store.data_fingerprint(sf_dir)
        self.unsaved = {}

    def path(self, name: str, sql: str) -> str:
        return oracle_store.cache_path(name, sql, self.comp_ver, self.data_fp)

    def verdict(self, name: str, sql: str):
        """(verdict, rows-or-None, cache hit)."""
        path = self.path(name, sql)
        cached = oracle_store.load(path) if self.cache_on else None
        if cached is not None:
            return cached, None, True
        t0 = time.time()
        live, orows = _live(self.con, sql)
        if self.cache_on:
            self.unsaved[path] = (name, live, time.time() - t0)
        return live, orows, False

    def save(self) -> None:
        """Write every verdict computed live since the last save."""
        for path, (name, verdict, secs) in self.unsaved.items():
            oracle_store.store(path, name, self.sf_dir, verdict, secs)
        self.unsaved.clear()

    def audit(self, sqls: dict[str, str], hit_keys: list[str], k: int) -> list[str]:
        """Re-execute ``k`` of the cached verdicts live (VERDICT r12 #6)
        and return the keys whose verdict diverged. The sample is
        deterministic per (comparator, fixture) so a receipt is
        reproducible, and skips HEAVY_ORACLE_KEYS."""
        auditable = [n for n in hit_keys if n not in HEAVY_ORACLE_KEYS]

        def rank(name):
            return hashlib.sha256(
                f"{self.comp_ver}|{self.data_fp}|{name}".encode()
            ).hexdigest()

        sample = sorted(auditable, key=rank)[:k]
        diverged = []
        for name in sample:
            cached = oracle_store.load(self.path(name, sqls[name]))
            live, _ = _live(self.con, sqls[name])
            ok = cached == live
            print(f"cache-audit {'OK  ' if ok else 'DIVERGED'} {name}"
                  + ("" if ok else f": cached={cached} live={live}"))
            if not ok:
                diverged.append(name)
        print(f"cache-audit: {len(sample) - len(diverged)}/{len(sample)} "
              f"verdicts reproduced live ({len(auditable)} auditable hits, "
              f"heavy keys excluded)")
        if diverged:
            print(f"cache-audit FAILED: {diverged}")
        return diverged


def check(oracles: Oracles, name: str, sql: str, srows, scols):
    """The driver's t2 gate for one key: Spark's rows against the
    oracle's verdict on row count, sorted column names and
    ``value_hash`` -> (ok, status line, cache hit). A hash mismatch
    diffs against freshly executed rows, never a cached verdict."""
    want, orows, hit = oracles.verdict(name, sql)
    if len(srows) != want["nrows"] or sorted(scols) != sorted(want["cols"]):
        return False, (f"MISMATCH rows {len(srows)}vs{want['nrows']} "
                       f"cols {sorted(scols)}vs{sorted(want['cols'])}"), hit
    if value_hash(srows, scols) == want["value_hash"]:
        return True, (f"MATCH ({len(srows)} rows)"
                      + (" [oracle-cache]" if hit else "")), hit
    if orows is None:
        want, orows = _live(oracles.con, sql)
    return False, ("HASH MISMATCH "
                   + first_diff(srows, scols, orows, want["cols"])), hit


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        description="Verify registry keys against their DuckDB oracles."
    )
    p.add_argument("keys", nargs="*",
                   help="key names or @all_pairs/@full_output/@money_tpch/"
                        "@decade (default: the whole registry)")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                   help="fixture directory (default: %(default)s)")
    p.add_argument("--sample-mod", type=int, metavar="N",
                   help="run on a 1-in-N sample of documents/embeddings")
    p.add_argument("--output-sample", type=int, metavar="N",
                   help="hash only the 1-in-N knuth_hash output subset")
    p.add_argument("--oracle-only", action="store_true",
                   help="run and cache the DuckDB side only, no Spark")
    return p


def main(argv=None) -> int:
    args = _parser().parse_args(argv)
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    keys = resolve_keys(args.keys, queries) or sorted(queries)
    if args.output_sample:
        undeclared = [k for k in keys if k not in FULL_OUTPUT]
        if undeclared:
            raise SystemExit(f"--output-sample: no sample column declared "
                             f"for {undeclared}")
    with oracle_db(None if args.sample_mod else args.sf_dir) as con:
        if not args.sample_mod:
            return _verify(args, con, args.sf_dir, keys, queries, entry_mod)
        with tempfile.TemporaryDirectory(prefix="driver_sim_sample_") as sample_dir:
            _build_sample(con, args.sf_dir, args.sample_mod, sample_dir)
            _register_views(con, sample_dir)
            return _verify(args, con, sample_dir, keys, queries, entry_mod)


def _verify(args, con, sf_dir, keys, queries, entry_mod) -> int:
    oracles = entry_mod.oracle_sql()
    store = Oracles(con, sf_dir)
    mod_n = args.output_sample
    sqls = {
        n: _sampled_sql(con, oracles[n], FULL_OUTPUT[n], mod_n) if mod_n
        else oracles[n]
        for n in keys if n in oracles
    }
    if args.oracle_only:
        return _prewarm(store, sqls, sf_dir)

    from bigdataprojectspring16_spark import get_session

    spark = get_session("driver-sim")
    # --- t1 smoke ---
    df = entry_mod.entry(spark)
    rows = df.collect()
    print(f"t1 smoke: entry() -> {len(rows)} rows, "
          f"schema={[f.name for f in df.schema.fields]}")
    if not rows:
        raise SystemExit("t1 smoke: entry() returned no rows")

    # --- t2 oracle gate ---
    fails, rows_only, hit_keys = [], [], []
    for name in keys:
        sdf = queries[name](spark, sf_dir)
        if mod_n:
            sdf = _sampled_df(sdf, FULL_OUTPUT[name], mod_n)
        srows = [tuple(r) for r in sdf.collect()]
        scols = [f.name for f in sdf.schema.fields]
        if name in sqls:
            ok, status, hit = check(store, name, sqls[name], srows, scols)
            store.save()
            if hit:
                hit_keys.append(name)
        else:
            ok = True
            rows_only.append(name)
            status = f"rows-only ({len(srows)} rows)"
        print(f"{'OK ' if ok else 'FAIL'} {name}: {status}", flush=True)
        if mod_n and not srows:
            print(f"WARN {name}: empty sample — raise density", flush=True)
        if not ok:
            fails.append(name)

    # A subset run says so, so its receipt cannot read as a full pass.
    scope = "" if not args.keys else f" (subset of {len(queries)}-key registry)"
    cache_note = (f", {len(hit_keys)} oracle-cache hits" if store.cache_on
                  else ", oracle cache OFF")
    print(f"\n{len(keys)} queries{scope}, {len(fails)} fails, "
          f"{len(rows_only)} rows-only{cache_note}")

    audit_k = int(os.environ.get("DRIVER_SIM_CACHE_AUDIT", "0") or "0")
    if audit_k > 0 and hit_keys and store.audit(sqls, hit_keys, audit_k):
        return 2
    return 1 if fails else 0


def _prewarm(store: Oracles, sqls: dict[str, str], sf_dir: str) -> int:
    """``--oracle-only``: compute and cache each oracle; already-cached
    keys are skipped, so a relaunch is safe. Farm heavy keys out one
    process per key to run them concurrently."""
    done = skipped = 0
    for name, sql in sqls.items():
        t0 = time.time()
        verdict, _rows, hit = store.verdict(name, sql)
        store.save()
        if hit:
            skipped += 1
            print(f"skip {name}: cached", flush=True)
        else:
            done += 1
            print(f"warm {name}: {verdict['nrows']} rows in "
                  f"{time.time() - t0:.1f}s", flush=True)
    print(f"\nprewarm: {done} computed, {skipped} already cached, "
          f"sf_dir={sf_dir}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
