"""The benchmark's three workloads: input generation, one pipeline pass
through the program's public functions, and the untimed output check.

Every workload is a closed loop with one client: one pass at a time, the
next pass starts only after the previous sink has committed. Inputs are
generated from the run's seed and written as files; the program only
ever sees those files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PKG = "auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark"

#: Sizes keep one run, set-up included, near 55 s on 4 cores, so that a
#: full measurement of the two listed workloads (48 runs) fits in 3420 s:
#: see README.md.
REF_ROWS = 400_000
REF_COLS = 20
REF_BINS = 100
REF_REL_ERR = 0.001  # fit_quantile_boundaries' default sketch accuracy
LINEITEM_ROWS = 150_000
DOC_ROWS = 5_000
TRAIN_BINS = 20

#: Content seed of the lineitem and documents tables. The run's --seed
#: only permutes their rows, so the kept set of training_prep is the same
#: for every seed while each seed still gives the program a new file.
CONTENT_SEED = 42


def _perm(n: int, seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 0x0DE5]).permutation(n)


def _write_one_file(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def link_copy(src_dir: str, dst_dir: str) -> None:
    """Hard-link every file of an input directory tree into a fresh path,
    so each pass scans a path no session memo or file-listing cache has
    seen, without re-writing (and re-flushing) the data."""
    for root, _dirs, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        os.makedirs(os.path.join(dst_dir, rel), exist_ok=True)
        for f in files:
            os.link(os.path.join(root, f), os.path.join(dst_dir, rel, f))


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


# ---------------------------------------------------------------------------
# ref_tokenize: the reference's own computation
# ---------------------------------------------------------------------------


class RefTokenize:
    name = "ref_tokenize"
    table = "massive_data"
    rows = REF_ROWS
    cols = [f"col_{i}" for i in range(REF_COLS)]
    needs_spark_to_generate = True
    warm_passes = 3
    nominal_pass_s = 3.3

    def generate(self, spark, in_dir: str, seed: int) -> None:
        from importlib import import_module

        gen = import_module(f"{PKG}.sources.generator")
        gen.create_dummy_data(
            spark, os.path.join(in_dir, f"{self.table}.parquet"),
            rows=self.rows, cols=REF_COLS, seed=seed,
        )

    def run_pass(self, spark, mods, span, in_dir: str, out_dir: str):
        df = span("session.load_table", mods.session.load_table, spark, in_dir, self.table)
        bounds = span(
            "quantile_bin.fit_quantile_boundaries",
            mods.quantile_bin.fit_quantile_boundaries, df, self.cols, bins=REF_BINS,
        )
        out = span("quantile_bin.bucketize", mods.quantile_bin.bucketize, df, bounds)
        span("sinks.write_parquet", mods.sinks.write_parquet, out, out_dir)
        return bounds

    def prepare_check(self, in_dir: str, seed: int):
        t = pq.read_table(os.path.join(in_dir, f"{self.table}.parquet"))
        values = {c: t.column(c).to_numpy() for c in self.cols}
        sample = np.random.default_rng([seed, 0xC4EC]).choice(
            t.num_rows, size=2_000, replace=False
        )
        return {"values": values, "sample": sample, "n": t.num_rows, "expect": {}}

    def check(self, state, bounds, out_dir: str) -> list[str]:
        errs: list[str] = []
        n = state["n"]
        out = pq.read_table(out_dir)
        if out.num_rows != n:
            return [f"row count {out.num_rows} != input {n}"]
        want_cols = [f"{c}_bin" for c in self.cols]
        if out.column_names != want_cols:
            return [f"columns {out.column_names} != {want_cols}"]
        # Rank-error bound of the sketch: each boundary's rank is within
        # eps*n of its target, so a bin's count is within 2*eps*n of n/bins.
        slack = 2 * REF_REL_ERR * n + 1
        keys_out = np.zeros(n, dtype=np.uint64)
        keys_want = np.zeros(len(state["sample"]), dtype=np.uint64)
        for c in self.cols:
            col = out.column(f"{c}_bin")
            if col.null_count:
                errs.append(f"{c}: {col.null_count} null bins")
                continue
            got = col.to_numpy().astype(np.int64)
            if got.min() < 0 or got.max() > REF_BINS - 1:
                errs.append(f"{c}: bin outside [0, {REF_BINS - 1}]")
                continue
            counts = np.bincount(got, minlength=REF_BINS)
            off = np.abs(counts - n / REF_BINS).max()
            if off > slack:
                errs.append(f"{c}: a bin count is {off:.0f} off n/bins (> {slack:.0f})")
            interior = tuple(sorted({b + 0.0 for b in bounds[c][1:-1]}))
            if (c, interior) not in state["expect"]:
                expect = np.searchsorted(np.array(interior), state["values"][c], side="right")
                state["expect"][c, interior] = expect, np.bincount(expect, minlength=REF_BINS)
            expect, want_counts = state["expect"][c, interior]
            if not np.array_equal(want_counts, counts):
                errs.append(f"{c}: per-bin counts differ from np.searchsorted")
            keys_out = keys_out * np.uint64(1_000_003) + got.astype(np.uint64)
            keys_want = keys_want * np.uint64(1_000_003) + expect[state["sample"]].astype(np.uint64)
        if not errs:
            missing = int((~np.isin(keys_want, keys_out)).sum())
            if missing:
                errs.append(f"{missing} sampled rows have no matching output row")
        return errs


# ---------------------------------------------------------------------------
# auto_tokenize: schema inference + exact fit + routed encoding
# ---------------------------------------------------------------------------


def lineitem_table(rows: int) -> pa.Table:
    """A TPC-H-shaped lineitem: the column types and cardinalities of the
    repo's sf fixtures (ids, 7 line numbers, 50 quantities, 11 discounts,
    9 taxes, 3 return flags, 2 line statuses, ~2.5k ship days)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_orders = max(1, rows // 4)
    lines = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)[:rows]
    if len(orderkey) < rows:
        orderkey = np.concatenate(
            [orderkey, rng.integers(0, n_orders, rows - len(orderkey))]
        )
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])[:rows]
    if len(linenumber) < rows:
        linenumber = np.concatenate(
            [linenumber, rng.integers(1, 8, rows - len(linenumber))]
        )
    quantity = rng.integers(1, 51, size=rows).astype(np.float64)
    unit = rng.integers(90_000, 210_000, size=rows) / 100.0
    extprice = np.round(quantity * unit, 2)
    discount = rng.integers(0, 11, size=rows) / 100.0
    tax = rng.integers(0, 9, size=rows) / 100.0
    day0 = np.datetime64("1995-01-02", "D")
    ship = (day0 + rng.integers(0, 2499, size=rows)).astype("datetime64[us]")
    return pa.table(
        {
            "l_orderkey": orderkey.astype(np.int64),
            "l_partkey": rng.integers(0, 20_000, size=rows).astype(np.int64),
            "l_suppkey": rng.integers(0, 1_000, size=rows).astype(np.int64),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": extprice,
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=rows)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=rows)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


class AutoTokenize:
    name = "auto_tokenize"
    table = "lineitem"
    rows = LINEITEM_ROWS
    needs_spark_to_generate = False
    warm_passes = 2
    nominal_pass_s = 6.5

    def generate(self, spark, in_dir: str, seed: int) -> None:
        t = lineitem_table(self.rows)
        _write_one_file(t.take(_perm(self.rows, seed)), os.path.join(in_dir, f"{self.table}.parquet"))

    def run_pass(self, spark, mods, span, in_dir: str, out_dir: str):
        si, qb = mods.schema_infer, mods.quantile_bin
        df = span("session.load_table", mods.session.load_table, spark, in_dir, self.table)
        classes = span("schema_infer.infer_column_classes", si.infer_column_classes, spark, df, self.table)
        cont = [
            r["column_name"] for r in classes.collect()
            if r["inferred_class"] == "numeric_continuous"
        ]
        bounds = span(
            "quantile_bin.fit_quantile_boundaries",
            qb.fit_quantile_boundaries, df, cont, bins=100, relative_error=0.0,
        )
        bounds = {c: [round(x, 6) for x in v] for c, v in bounds.items()}
        out = span(
            "schema_infer.auto_tokenize", si.auto_tokenize, spark, df, self.table,
            classes_df=classes, boundaries=bounds,
        )
        span("sinks.write_parquet", mods.sinks.write_parquet, out, out_dir)
        return cont

    def prepare_check(self, in_dir: str, seed: int):
        return None

    def check(self, _state, cont, out_dir: str) -> list[str]:
        if sorted(cont) != sorted(ORACLE_BIN_COLS):
            return [f"continuous columns {sorted(cont)} != the oracle's {ORACLE_BIN_COLS}"]
        got = table_digest(pq.read_table(out_dir))
        if got != AUTO_TOKENIZE_ORACLE_SHA256:
            return [f"output {got[:12]} differs from the DuckDB oracle's {AUTO_TOKENIZE_ORACLE_SHA256[:12]}"]
        return []


def table_digest(t: pa.Table) -> str:
    """sha256 of a table as a multiset of rows: column names, then every
    column as int64 after sorting the rows on all columns."""
    t = t.sort_by([(c, "ascending") for c in t.column_names])
    h = hashlib.sha256(",".join(t.column_names).encode())
    for c in t.column_names:
        h.update(t.column(c).cast(pa.int64()).to_numpy().tobytes())
    return h.hexdigest()


def auto_tokenize_oracle_digest(path: str) -> str:
    """Run schema_infer._AUTO_TOKENIZE_LINEITEM_ORACLE in DuckDB over one
    lineitem file and digest its result. The lineitem content is fixed and
    the seed only permutes rows, so one digest holds for every seed:

        python3 -c "import sys; sys.path[:0] = ['perfbench', '.']; import workloads as w; \\
            w.AutoTokenize().generate(None, 'li', 0); print(w.auto_tokenize_oracle_digest('li/lineitem.parquet'))"
    """
    from importlib import import_module

    import duckdb

    oracle = import_module(f"{PKG}.operators.schema_infer")._AUTO_TOKENIZE_LINEITEM_ORACLE
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
        return table_digest(con.execute(oracle).arrow())
    finally:
        con.close()


#: Computed by auto_tokenize_oracle_digest at LINEITEM_ROWS (it takes
#: about 13 s in DuckDB, too long to repeat inside every run).
AUTO_TOKENIZE_ORACLE_SHA256 = "83e12d259779d7943f62302afd343545b7241b402790df1395fd5aea44b2a279"
ORACLE_BIN_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


# ---------------------------------------------------------------------------
# training_prep: the driver-bound composite pipeline
# ---------------------------------------------------------------------------

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents_table(rows: int) -> pa.Table:
    """A documents corpus shaped like the repo's fixtures: 10-100 tokens
    of a 30-word vocabulary, 5 languages, 20 sources, and some exact and
    near duplicates (a copied text, or one with a few words swapped, plus
    a trailing 'dup')."""
    rng = np.random.default_rng(CONTENT_SEED)
    texts: list[str] = []
    for i in range(rows):
        u = rng.random()
        if i > 10 and u < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and u < 0.06:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), size=2):
                toks[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(toks + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), size=k)))
    return pa.table(
        {
            "doc_id": np.arange(rows, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), size=rows, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(rows)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _passes_quality(text: str, stopwords) -> bool:
    """pipelines.quality_filter with its defaults, restated in Python."""
    toks = text.split(" ")
    n = len(toks)
    return (
        n >= 20
        and sum(t in stopwords for t in toks) / n <= 0.5
        and len(set(toks)) / n >= 0.3
    )


class TrainingPrep:
    name = "training_prep"
    table = "documents"
    rows = DOC_ROWS
    needs_spark_to_generate = False
    warm_passes = 2
    nominal_pass_s = 3.0

    def generate(self, spark, in_dir: str, seed: int) -> None:
        t = documents_table(self.rows)
        _write_one_file(t.take(_perm(t.num_rows, seed)), os.path.join(in_dir, f"{self.table}.parquet"))

    def run_pass(self, spark, mods, span, in_dir: str, out_dir: str):
        span(
            "pipelines.prepare_training_data",
            mods.pipelines.prepare_training_data, spark, in_dir, out_path=out_dir,
        )
        return None

    def prepare_check(self, in_dir: str, seed: int):
        from importlib import import_module

        stop = set(import_module(f"{PKG}.operators.text").STOPWORDS)
        t = pq.read_table(os.path.join(in_dir, f"{self.table}.parquet")).to_pydict()
        docs = dict(zip(t["doc_id"], t["text"]))
        return {"docs": docs, "stop": stop}

    def check(self, state, _result, out_dir: str) -> list[str]:
        got = pq.read_table(out_dir).to_pydict()
        ids = got["doc_id"]
        docs, errs = state["docs"], []
        if not ids:
            return ["no rows kept"]
        if len(set(ids)) != len(ids):
            errs.append("kept doc_ids are not unique")
        if not set(ids) <= docs.keys():
            errs.append("kept doc_ids are not a subset of the input")
            return errs
        bad = sum(not _passes_quality(docs[i], state["stop"]) for i in ids)
        if bad:
            errs.append(f"{bad} kept rows fail quality_filter")
        fps = [hashlib.md5(docs[i].strip().lower().encode()).hexdigest() for i in ids]
        if len(set(fps)) != len(fps):
            errs.append("two kept rows share an exact-dedup fingerprint")
        for c in ("f_tokens_bin", "f_chars_bin"):
            vals = got[c]
            if any(v is None or not 0 <= v <= TRAIN_BINS - 1 for v in vals):
                errs.append(f"{c} outside [0, {TRAIN_BINS - 1}]")
        kept = hashlib.sha256(np.sort(np.array(ids, dtype=np.int64)).tobytes()).hexdigest()
        if kept != KEPT_SET_SHA256:
            errs.append(f"kept set {kept[:12]} differs from the pinned {KEPT_SET_SHA256[:12]}")
        return errs


#: sha256 of the sorted kept doc_ids at DOC_ROWS. The content is fixed and
#: only the row order follows the seed, so every seed must keep this set.
KEPT_SET_SHA256 = "ce1788c07514231074d58c56b1b37a6471d8c2b6d9ece296d1345f374446dc1a"


WORKLOADS = {w.name: w for w in (RefTokenize(), AutoTokenize(), TrainingPrep())}
