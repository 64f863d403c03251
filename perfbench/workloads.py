"""The benchmark's workloads.

Each workload has ``setup`` (counted in ``setup_s``), ``ops`` (the
operations of one pass, in a seeded order) and ``check`` (output checks,
run after the timed passes). Every call into a layer is wrapped in a
tracer span named ``<module>.<call>``; with tracing off spans cost
nothing.
"""

from __future__ import annotations

import glob
import os
import struct
import zlib

from checks import check_query, duckdb_views

# fixed subsets: every seed runs the same work, the seed sets the order
RELATIONAL = (
    # a pure-JVM event-table query: windows, no Python workers
    "q46_sessionize",
)
CURATION = (
    # a driver-side loop (q119 k-means) and eager localCheckpoints (q105)
    # inside query construction
    "q119_kmeans_clusters", "q105_dsir_weights",
    # two consumers of one session-shared pair table
    "q84_semantic_dedup", "q90_semantic_label_matrix",
    # codec round trip through Python workers
    "q130_codec_roundtrip",
)
SHARED_TABLE = "shared:semantic_pairs"
# queries one run checks against the oracle (a seeded pick; runs with
# other seeds check the others)
CHECKS = 1


class Context:
    """What a workload needs: the session, its tables, a scratch dir, the
    seeded random source and the tracer."""

    def __init__(self, spark, tables: str, work: str, rng, tracer):
        self.spark = spark
        self.tables = tables
        self.work = work
        self.rng = rng
        self.tracer = tracer

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_engine(ctx: Context, tables) -> None:
    """JVM, codegen and first-scan warm-up."""
    from intake_spark.session import load_table

    ctx.spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in tables:
        load_table(ctx.spark, ctx.tables, t).count()


def warm_python_workers(ctx: Context) -> None:
    """Start the Python-worker pool and import the engine there, so no
    timed operation absorbs the pool's cold imports."""
    from intake_spark.session import ensure_py_deps

    ensure_py_deps(ctx.spark)

    def warm(batches):
        import intake_spark.llm.queries  # noqa: F401
        import intake_spark.output  # noqa: F401

        yield from batches

    n = ctx.spark.sparkContext.defaultParallelism * 2
    ctx.spark.range(n, numPartitions=n).mapInPandas(warm, "id long").collect()


class Queries:
    """Headline queries into the ``noop`` sink: a pure-JVM relational one
    (Catalyst planning, scheduling, JVM tasks) beside LLM-curation ones
    (Python workers, eager construction, materializations, shuffles)."""

    names = RELATIONAL + CURATION
    sf = 0.01
    # warm passes still get faster pass after pass, so the count is fixed
    # (a faster change never buys an extra, faster pass)
    warm_passes = 4

    def setup(self, ctx: Context) -> None:
        from intake_spark.llm.queries import rebuild_shared

        with ctx.span("session.warm_engine"):
            warm_engine(ctx, ("events", "documents"))
        with ctx.span("session.pyworker_warm"):
            warm_python_workers(ctx)
        # the session-shared table the two consumers read is built here,
        # so no timed operation's cost depends on whether it ran first
        self.shared_build_s = rebuild_shared(ctx.spark, ctx.tables, SHARED_TABLE)
        if self.shared_build_s is None:
            raise RuntimeError(f"building {SHARED_TABLE} failed")

    def ops(self, ctx: Context):
        from intake_spark.benchqueries import get_queries

        fns = get_queries()
        order = list(self.names)
        ctx.rng.shuffle(order)

        def run(name):
            fn = fns[name]
            layer = fn.__module__.removeprefix("intake_spark.")

            def op():
                with ctx.span(f"{layer}.construct"):
                    df = fn(ctx.spark, ctx.tables)
                with ctx.span("spark.exec"):
                    noop(df)

            return op

        return [(n, run(n)) for n in order]

    def check(self, ctx: Context) -> list[tuple[str, str | None]]:
        from intake_spark.benchqueries import get_oracle_sql, get_queries

        from datagen import TABLES

        fns, oracle = get_queries(), get_oracle_sql()
        picked = ctx.rng.sample(self.names, CHECKS)
        con = duckdb_views(ctx.tables, TABLES)
        out = []
        try:
            for name in picked:
                try:
                    err = check_query(fns[name](ctx.spark, ctx.tables), oracle.get(name), con)
                except Exception as exc:  # noqa: BLE001 - a failed check is a result
                    err = f"{type(exc).__name__}: {exc}"[:300]
                out.append((f"check:{name}", err))
        finally:
            con.close()
        return out

    def layer_counts(self) -> dict[str, float]:
        return {"llm.queries.shared_build_s": self.shared_build_s}


# -- catalog_io ---------------------------------------------------------------

SINKS = ("parquet", "csv", "json", "orc", "avro", "delta")
AUTO_SINKS = ("parquet", "delta")
# formats of the many-small-files corpus -> the datatype recommend must name
SMALL_FORMATS = {"csv": "CSV", "jsonl": "JSONFile", "parquet": "Parquet", "png": "PNG", "xml": "XML"}
N_ENTRIES = 150
N_SMALL_DIRS = 6
FILES_PER_DIR = 8
SAMPLES_PER_CLUSTER = 4
# the mixed directory holds fewer than SAMPLES_PER_CLUSTER files of each
# format, so every sample holds both and the dispute is certain, whatever
# the paths hash to
MIXED_FILES = 2 * (SAMPLES_PER_CLUSTER - 1)
# files of each format that recommend() sniffs every pass (a flat
# directory apart from the corpus)
DETECT_PER_FORMAT = 32
NEW_ENTRIES = 80
SEARCHES = 24
# aliases rehydrated per pass; the last one is read into the noop sink
REHYDRATES = 40
# every pass writes a fresh delta table with this many commits (create,
# then append), so each pass does the same delta work
DELTA_COMMITS = 2


def _png(seed: int) -> bytes:
    w = h = 4
    raw = b"".join(b"\x00" + bytes((seed + x * y) % 256 for x in range(w)) for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _small_file(path: str, fmt: str, i: int) -> None:
    if fmt == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"a": [i], "b": [i * 2]}), path)
        return
    body = {
        "csv": f"a,b\n{i},{i * 2}\n".encode(),
        "jsonl": f'{{"a": {i}, "b": {i * 2}}}\n'.encode(),
        "png": _png(i),
        "xml": f"<rows><row><a>{i}</a></row></rows>".encode(),
    }[fmt]
    with open(path, "wb") as f:
        f.write(body)


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


class CatalogIO:
    """The intake surface: sink writes beside reads, a catalog of
    ``N_ENTRIES`` entries (pipelines over nested ``{data(tok)}`` refs with
    user parameters), datatype detection over a many-small-files corpus,
    declarative steps, materialization and a file-stream ingest."""

    sf = 0.01
    # fixed, as for Queries; this workload's cold pass is twice as long,
    # so two warm passes fit the run-time budget
    warm_passes = 2

    def setup(self, ctx: Context) -> None:
        from intake_spark.session import load_table

        with ctx.span("session.warm_engine"):
            warm_engine(ctx, ())
        with ctx.span("session.pyworker_warm"):
            warm_python_workers(ctx)
        self.root = os.path.join(ctx.work, "catalog_io")
        os.makedirs(self.root)
        a, b = 2 * ctx.rng.randrange(500) + 1, ctx.rng.randrange(1000)  # odd a: every residue mod 4
        li_path = os.path.join(ctx.tables, "lineitem.parquet")
        # a seeded quarter of lineitem, written through every sink each pass
        where = f"pmod(l_orderkey * {a} + {b}, 4) = 0"
        self.slice = load_table(ctx.spark, ctx.tables, "lineitem").where(where)
        con = duckdb_views(ctx.tables, ("lineitem",))
        try:
            self.slice_stats = con.sql(
                "SELECT count(*), sum(l_orderkey), sum(CAST(round(l_extendedprice * 100) AS BIGINT))"
                f" FROM lineitem WHERE (l_orderkey * {a} + {b}) % 4 = 0"
            ).fetchone()
            rows = con.sql("SELECT count(*) FROM lineitem").fetchone()[0]
        finally:
            con.close()
        self.input_bytes = os.path.getsize(li_path) * self.slice_stats[0] / rows
        self.out = {s: os.path.join(self.root, f"slice.{s}") for s in SINKS}
        self.delta_tables = 0
        self.written: dict[str, tuple[int, int]] = {}
        with ctx.span("catalog_io.small_files"):
            self.small_root, self.small = self._small_files(ctx)
            self.detect = self._detect_files(ctx)
        # the catalog's slice entries point at sink outputs that the first
        # ops of every pass (the writes) produce
        with ctx.span("catalog_io.build_catalog"):
            self.cat_path = os.path.join(self.root, "catalog.yaml")
            self._build_catalog(ctx).to_yaml_file(self.cat_path)
        self.recommended: dict[str, str | None] = {}
        self.corpus_rows: list = []
        self.stream_runs = 0

    def _small_files(self, ctx: Context):
        root = os.path.join(self.root, "small")
        expect: dict[str, str] = {}
        fmts = sorted(SMALL_FORMATS)
        for d in range(N_SMALL_DIRS):
            fmt = fmts[d % len(fmts)]
            sub = os.path.join(root, f"d{d:02d}")
            os.makedirs(sub)
            for i in range(FILES_PER_DIR):
                p = os.path.join(sub, f"f{i:03d}.{fmt}")
                _small_file(p, fmt, ctx.rng.randrange(1000))
                expect[p] = SMALL_FORMATS[fmt]
        # one directory whose shared extension hides two formats: the
        # triage must dispute it and sniff every member
        sub = os.path.join(root, "mixed")
        os.makedirs(sub)
        for i in range(MIXED_FILES):
            fmt = "parquet" if i % 2 else "png"
            p = os.path.join(sub, f"m{i:03d}.dat")
            _small_file(p, fmt, i)
            expect[p] = SMALL_FORMATS[fmt]
        return root, expect

    def _detect_files(self, ctx: Context) -> dict[str, str]:
        root = os.path.join(self.root, "detect")
        os.makedirs(root)
        expect = {}
        for fmt, want in sorted(SMALL_FORMATS.items()):
            for i in range(DETECT_PER_FORMAT):
                p = os.path.join(root, f"{fmt}{i:03d}.{fmt}")
                _small_file(p, fmt, ctx.rng.randrange(1000))
                expect[p] = want
        return expect

    def _write(self, sink: str) -> None:
        from intake_spark import output

        if sink == "delta":
            self.delta_tables += 1
            url = self.out[sink] = os.path.join(self.root, f"slice.delta.{self.delta_tables}")
            output.to_delta(self.slice, url)
            for _ in range(DELTA_COMMITS - 1):
                output.to_delta(self.slice, url, mode="append")
        else:
            url = self.out[sink]
            getattr(output, f"to_{sink}")(self.slice, url)
        self.written[sink] = _dir_stats(url)

    def _build_catalog(self, ctx: Context):
        from intake_spark import datatypes as dt
        from intake_spark.catalog import Catalog
        from intake_spark.readers import SparkCSV, SparkJSON, SparkORC, SparkParquet

        cat = Catalog()
        bases = []
        for t in ("lineitem", "orders", "customer"):
            bases.append((t, SparkParquet(data=dt.Parquet(url=os.path.join(ctx.tables, f"{t}.parquet")))))
        bases += [
            ("slice_parquet", SparkParquet(data=dt.Parquet(url=self.out["parquet"]))),
            ("slice_csv", SparkCSV(data=dt.CSV(url=self.out["csv"]))),
            ("slice_json", SparkJSON(data=dt.JSONFile(url=self.out["json"]))),
            ("slice_orc", SparkORC(data=dt.ORC(url=self.out["orc"]))),
        ]
        self.base_toks = {}
        with ctx.span("catalog.add_entry"):
            for name, reader in bases:
                self.base_toks[name] = cat.add_entry(reader, name=f"base_{name}")
        self.aliases = [f"e{i:05d}" for i in range(N_ENTRIES)]
        for alias in self.aliases:
            self._add_pipeline(ctx, cat, alias)
        return cat

    def _add_pipeline(self, ctx: Context, cat, alias: str) -> None:
        from intake_spark.catalog import ReaderDescription
        from intake_spark.user_parameters import SimpleUserParameter

        base = ctx.rng.choice(sorted(self.base_toks))
        col, cols = {
            "lineitem": ("l_quantity", ["l_orderkey", "l_quantity", "l_extendedprice"]),
            "orders": ("o_totalprice", ["o_orderkey", "o_custkey", "o_totalprice"]),
            "customer": ("c_acctbal", ["c_custkey", "c_name", "c_acctbal"]),
        }.get(base, ("l_quantity", ["l_orderkey", "l_quantity", "l_extendedprice"]))
        lo = ctx.rng.randrange(1, 40)
        desc = ReaderDescription(
            payload={
                "reader": f"{{data({self.base_toks[base]})}}",
                "steps": [["method", "filter", [f"{col} > {{min_v}}"], {}],
                          ["getitem", cols]],
            },
            user_parameters={"min_v": SimpleUserParameter(dtype=int, default=lo)},
            metadata={"description": f"{base} rows above a threshold", "tags": [base, f"t{lo % 7}"]},
        )
        with ctx.span("catalog.add_entry"):
            cat.add_entry(desc, name=alias)

    # -- the operations of one pass ------------------------------------------

    def ops(self, ctx: Context):
        from intake_spark import datatypes as dt
        from intake_spark.catalog import open_catalog
        from intake_spark.convert import auto_pipeline
        from intake_spark.session import load_table
        from intake_spark.steps import run_steps
        from intake_spark.streaming import drain_stream

        spark = ctx.spark
        state: dict = {}
        detect = sorted(self.detect)
        terms = sorted({*self.base_toks, *(f"t{i}" for i in range(7)), "rows", "above"})

        def write(sink):
            def op():
                with ctx.span(f"output.write.{sink}"):
                    self._write(sink)
            return op

        def do_open():
            with ctx.span("catalog.open"):
                state["cat"] = open_catalog(self.cat_path)

        def do_search():
            cat = state["cat"]
            for term in ctx.rng.choices(terms, k=SEARCHES):
                with ctx.span("catalog.search"):
                    cat.search(term)

        def do_rehydrate():
            cat = state["cat"]
            for alias in ctx.rng.sample(self.aliases, REHYDRATES):
                with ctx.span("catalog.rehydrate"):
                    pipe = cat.to_reader(alias, min_v=ctx.rng.randrange(1, 40))
            df = pipe.read(spark=spark)
            with ctx.span("spark.exec"):
                noop(df)

        def do_catalog_write():
            cat = state["cat"]
            for i in range(NEW_ENTRIES):
                self._add_pipeline(ctx, cat, f"new{i:03d}")
            with ctx.span("catalog.to_yaml"):
                cat.to_yaml_file(os.path.join(self.root, "catalog_edit.yaml"))

        def do_recommend():
            for p in ctx.rng.sample(detect, len(detect)):
                with ctx.span("datatypes.recommend"):
                    got = dt.recommend(p)
                self.recommended[p] = got[0].__name__ if got else None

        def do_recommend_corpus():
            with ctx.span("datatypes.recommend_corpus"):
                self.corpus_rows = dt.recommend_corpus(
                    spark, self.small_root, samples_per_cluster=SAMPLES_PER_CLUSTER).collect()

        def do_auto(sink):
            def op():
                url = self.out[sink]
                with ctx.span("convert.auto_pipeline"):
                    pipe = auto_pipeline(url)
                df = pipe.read(spark=spark)
                with ctx.span("spark.exec"):
                    noop(df)
            return op

        def do_steps():
            targets = {t: load_table(spark, ctx.tables, t) for t in ("orders", "customer", "nation")}
            floor = ctx.rng.randrange(100_000, 400_000)
            steps = [
                {"target": "orders"},
                {"query": f"o_totalprice > {floor}"},
                {"rename": {"o_custkey": "c_custkey"}},
                {"merge": {"right": "customer", "on": "c_custkey", "how": "inner"}},
                {"groupby": {"by": "c_mktsegment", "agg": {"n": {"fn": "count", "col": "o_orderkey"},
                                                           "total": {"fn": "sum", "col": "o_totalprice"}}}},
            ]
            with ctx.span("steps.run_steps"):
                df = run_steps(targets, steps, spark=spark)
            with ctx.span("spark.exec"):
                noop(df)

        def do_materialize():
            cat = state["cat"]
            alias = ctx.rng.choice(self.aliases)
            with ctx.span("catalog.materialize"):
                cat.materialize(alias, os.path.join(self.root, "mat"), spark=spark, refresh=True).count()

        def do_stream():
            self.stream_runs += 1
            dst = os.path.join(self.root, f"stream_out_{self.stream_runs}")
            src = self.out["json"]
            schema = self.slice.schema

            with ctx.span("streaming.drain_stream") as span:
                def start():
                    chk = os.path.join(self.root, f"stream_chk_{self.stream_runs}_{os.urandom(4).hex()}")
                    from intake_spark.streaming import FileStream

                    sdf = FileStream(data=dt.JSONFile(url=src)).read(spark=spark, schema=schema)
                    q = (sdf.writeStream.format("parquet").option("path", dst)
                         .option("checkpointLocation", chk).trigger(availableNow=True).start())
                    # the stream thread runs its batches under the run id
                    ctx.tracer.alias(str(q.runId), span)
                    return q

                drain_stream(start, timeout_s=120.0, what="catalog_io ingest")
            state["stream_dst"] = dst

        ops = [(f"write_{s}", write(s)) for s in SINKS]
        ops += [
            ("open_catalog", do_open),
            ("search", do_search),
            ("rehydrate_read", do_rehydrate),
            ("catalog_write", do_catalog_write),
            ("recommend", do_recommend),
            ("recommend_corpus", do_recommend_corpus),
            *[(f"auto_pipeline_{s}", do_auto(s)) for s in AUTO_SINKS],
            ("run_steps", do_steps),
            ("materialize", do_materialize),
            ("stream_ingest", do_stream),
        ]
        self.state = state
        # writes first (read-backs need them), then open and search (the
        # catalog ops need an open catalog), then the rest; each group in
        # seeded order
        writes, head, rest = ops[:6], ops[6:8], ops[8:]
        ctx.rng.shuffle(writes)
        ctx.rng.shuffle(rest)
        return writes + head + rest

    # -- checks ---------------------------------------------------------------

    def check(self, ctx: Context) -> list[tuple[str, str | None]]:
        from pyspark.sql import functions as F

        from intake_spark.convert import auto_pipeline

        spark = ctx.spark
        out = []

        def stats(df):
            r = df.agg(
                F.count("*").alias("n"), F.sum("l_orderkey").alias("k"),
                F.sum(F.round(F.col("l_extendedprice").cast("double") * 100).cast("long")).alias("p"),
            ).first()
            return (r.n, r.k, r.p)

        n, k, p = self.slice_stats
        for sink in SINKS:
            try:
                if sink == "json":
                    df = spark.read.json(self.out[sink])
                else:
                    df = auto_pipeline(self.out[sink]).read(spark=spark)
                got = stats(df)
                times = DELTA_COMMITS if sink == "delta" else 1
                want = (n * times, k * times, p * times)
                out.append((f"readback:{sink}", None if got == want else f"{got} != {want}"))
            except Exception as exc:  # noqa: BLE001
                out.append((f"readback:{sink}", f"{type(exc).__name__}: {exc}"[:300]))
        wrong = [p for p, got in self.recommended.items() if got != self.detect[p]]
        out.append(("recommend", f"{len(wrong)} wrong, e.g. {wrong[:2]}" if wrong else None))
        verdict = {r.path.replace("file:", ""): r.datatype for r in self.corpus_rows}
        bad = [p for p, want in self.small.items() if verdict.get(p) != want]
        out.append(("recommend_corpus", f"{len(bad)} wrong, e.g. {bad[:2]}" if bad else None))
        if "stream_dst" in self.state:
            got = spark.read.parquet(self.state["stream_dst"]).count()
            out.append(("stream_ingest", None if got == n else f"{got} != {n}"))
        return out

    def layer_counts(self) -> dict[str, float]:
        # the last pass's writes; the delta table holds DELTA_COMMITS copies
        per_copy = sum(b / (DELTA_COMMITS if s == "delta" else 1) for s, (b, _) in self.written.items())
        return {
            "output.bytes_written": sum(b for b, _ in self.written.values()),
            "output.bytes_per_input_byte": per_copy / len(SINKS) / self.input_bytes,
            "output.files_written": sum(f for _, f in self.written.values()),
            "lakehouse.delta_versions": len(glob.glob(os.path.join(self.out["delta"], "_delta_log", "*.json"))),
            "catalog.entries": N_ENTRIES + len(self.base_toks),
            "datatypes.recommend_correct_ratio": (
                sum(self.detect[p] == got for p, got in self.recommended.items()) / max(1, len(self.recommended))
            ),
            "datatypes.corpus_sniffed_ratio": (
                sum(r.via != "cluster" for r in self.corpus_rows) / max(1, len(self.corpus_rows))
            ),
        }


WORKLOADS = {"queries": Queries, "catalog_io": CatalogIO}
