"""The two workloads: query and ingest.

Each workload runs against the public API of ``lucene_solr_spark``,
times its ops through ``Recorder.op`` (so each op gets its own Spark job
group), fully materializes what it times (top-k through ``.collect()``,
builds and commits through their own writes; nothing is timed with
``.count()``), and checks every result against the independent oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from lucene_solr_spark import corpus
from lucene_solr_spark.analysis.tokenizer import analyze, tokenize_flat
from lucene_solr_spark.index import codec, segments
from lucene_solr_spark.oracle_engine import OracleIndex
from lucene_solr_spark.search import executor, qparser
from lucene_solr_spark.search.query import DisMaxQuery
from lucene_solr_spark.streaming.incremental import IncrementalIndexWriter

from . import oracle as orc
from .stats import percentile, ratio
from .trace import PeakRss

# Scale. Sized so that one run, Spark start included, takes about a
# minute on a loaded 4-core host; see README.md.
N_TURNS = 3_000
K = 10
# Each workload runs whole cycles: at least MIN_CYCLES[workload], then
# more whole ones while --seconds have not passed. A cycle is the same
# work in every run (one pass over SHAPE_CYCLE; one writer taking the
# COMMITS deltas), so a faster program measures more of the same work,
# never a different mix.
MIN_CYCLES = {"query": 1, "ingest": 1}
# The query store is cut into doc-range splits so the block-max routes
# engage: Searcher.MIN_ROUTE_SPLITS is 8, and it counts
# max_doc // split_range + 1 splits.
QUERY_SPLITS = 8
COMMITS = 3  # the ingest corpus is cut into this many equal deltas
WARM_TURNS = 200  # the set-up commit of ingest, on a throwaway writer
TOKENIZE_BATCH = 20_000  # = spark.sql.execution.arrow.maxRecordsPerBatch
CODEC_MAX_POSTINGS = 100_000

# One cycle of the query stream: every shape once. These equal weights
# are an assumption: the repo holds no query log. The cycle is fixed, so
# the shape mix of a run does not depend on the seed; only the sampled
# terms do. Per-shape medians are recorded, so the query median can be
# recomputed under another mix.
SHAPE_CYCLE = (
    "term_common", "and2", "term_rare", "or3", "phrase", "not",
    "and3", "term_absent", "or_msm2", "dismax",
)
PRUNED_SHAPES = frozenset(
    {"term_common", "term_rare", "term_absent", "and2", "and3", "or3",
     "phrase"}
)
INGEST_SHAPES = ("term_common", "and2", "phrase")

WHY = {
    "query": "top-10 queries over a bloom-attached multi-split store: "
             "parse, dictionary/bloom/split lookup, block decode, scoring "
             "and top-k, no writes",
    "ingest": "NRT commits with a fresh reader and queries after each, "
              "then compact: the streaming write path with reads beside "
              "writes on unpruned flat postings",
}


@dataclass
class Ctx:
    """What a workload gets from the harness."""

    spark: object
    rec: object  # trace.Recorder
    workdir: str
    seed: int
    seconds: float
    notes: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)  # (op_id, reason or None)
    setup_program_s: float = 0.0
    setup_op: dict | None = None  # the op record of the set-up calls
    rss: PeakRss = field(default_factory=PeakRss)
    layer: dict = field(default_factory=dict)  # per-layer facts
    phases: dict = field(default_factory=dict)  # wall seconds per phase
    _t: float = field(default_factory=time.perf_counter)

    def mark(self, name: str) -> None:
        """Close the current phase of the run under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)


# -- inputs ---------------------------------------------------------------------

@dataclass
class Corpus:
    path: str
    turns: pd.DataFrame  # numbered: doc_id = rank by (conv_id, turn_idx)
    oracle: OracleIndex
    text_bytes: int


def make_corpus(ctx: Ctx, n_turns: int = N_TURNS) -> Corpus:
    """Generate the seeded transcript corpus with the package's own
    distributed generator, persist it as the workload input, and build
    the oracle over the same turns (read back with pandas, not through
    Spark). Neither step is part of setup_s."""
    t0 = time.perf_counter()
    path = ctx.path("corpus")
    partitions = len(os.sched_getaffinity(0))
    corpus.transcripts_distributed(
        ctx.spark, n_turns, seed=ctx.seed, partitions=partitions
    ).write.mode("overwrite").parquet(path)
    turns = orc.numbered(pd.read_parquet(path))
    generate_s = time.perf_counter() - t0
    ctx.mark("generate")
    rss0 = PeakRss.rss_mb()
    oracle = OracleIndex(turns)
    ctx.notes["oracle_rss_mb"] = PeakRss.rss_mb() - rss0
    text_bytes = int(turns["text"].map(lambda s: len(s.encode())).sum())
    ctx.notes.update(
        seed=ctx.seed,
        turns=int(len(turns)),
        text_bytes=text_bytes,
        post_stop_tokens=int(oracle.sum_ttf),
        vocabulary=len(oracle.postings),
        generate_s=generate_s,
    )
    ctx.layer["corpus.generate_s"] = generate_s
    ctx.mark("oracle")
    return Corpus(path, turns, oracle, text_bytes)


@dataclass
class QuerySpec:
    shape: str
    text: str
    mm: int = 0  # min-should-match through parse_edismax
    dismax: bool = False  # per-term DisMax over parse_lucene terms

    def parse(self):
        if self.dismax:
            return DisMaxQuery(
                [qparser.parse_lucene(t) for t in self.text.split()], 0.1
            )
        if self.mm:
            return qparser.parse_edismax(self.text, mm=self.mm)
        return qparser.parse_lucene(self.text)

    def terms(self) -> list[str]:
        return [t.lstrip("+-").strip('"') for t in self.text.split()]


class QueryGen:
    """Seeded queries over the corpus's own vocabulary: Zipf-sampled
    terms (by df rank, over every term but the ``errcode`` ids),
    per-conversation ``errcode`` tokens, absent terms, and adjacent pairs
    for phrases."""

    # The exponent corpus.build_vocabulary draws words with: query terms
    # follow the same law over the corpus's df ranking as the text does.
    ZIPF_S = 1.07

    def __init__(self, oracle: OracleIndex, turns: pd.DataFrame, seed: int):
        self.rng = np.random.default_rng(seed ^ 0x5EED)
        by_df = sorted(
            ((len(p), t) for t, p in oracle.postings.items()
             if not t.startswith("errcode")),
            reverse=True,
        )
        self.common = [t for _, t in by_df]
        w = 1.0 / np.arange(1, len(self.common) + 1) ** self.ZIPF_S
        self.p = w / w.sum()
        self.rare = sorted(t for t in oracle.postings if t.startswith("errcode"))
        self.texts = turns["text"].tolist()

    def _zipf(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.common), size=n, replace=False, p=self.p)
        return [self.common[i] for i in idx]

    def _phrase(self) -> str:
        while True:
            terms, pos = analyze(self.texts[int(self.rng.integers(len(self.texts)))])
            pairs = [i for i in range(len(terms) - 1) if pos[i + 1] == pos[i] + 1]
            if pairs:
                i = pairs[int(self.rng.integers(len(pairs)))]
                return f'"{terms[i]} {terms[i + 1]}"'

    def make(self, shape: str) -> QuerySpec:
        if shape == "term_common":
            return QuerySpec(shape, self._zipf(1)[0])
        if shape == "term_rare":
            return QuerySpec(shape, self.rare[int(self.rng.integers(len(self.rare)))])
        if shape == "term_absent":
            return QuerySpec(shape, f"absent{int(self.rng.integers(1 << 40)):x}q")
        if shape == "and2":
            return QuerySpec(shape, " ".join("+" + t for t in self._zipf(2)))
        if shape == "and3":
            return QuerySpec(shape, " ".join("+" + t for t in self._zipf(3)))
        if shape == "or3":
            return QuerySpec(shape, " ".join(self._zipf(3)))
        if shape == "phrase":
            return QuerySpec(shape, self._phrase())
        if shape == "not":
            a, b = self._zipf(2)
            return QuerySpec(shape, f"+{a} -{b}")
        if shape == "or_msm2":
            return QuerySpec(shape, " ".join(self._zipf(3)), mm=2)
        if shape == "dismax":
            return QuerySpec(shape, " ".join(self._zipf(2)), dismax=True)
        raise ValueError(shape)

    def cycle(self) -> list[QuerySpec]:
        return [self.make(shape) for shape in SHAPE_CYCLE]


def describe_stream(specs: list[QuerySpec]) -> dict:
    """Shape weights and how much work the queries share: the distinct
    share of term occurrences (1.0 = no term repeats)."""
    occ = [t for s in specs for t in s.terms()]
    weights: dict[str, int] = {}
    for s in specs:
        weights[s.shape] = weights.get(s.shape, 0) + 1
    return {
        "queries": len(specs),
        "shape_weights": weights,
        "distinct_term_share": ratio(len(set(occ)), len(occ)),
    }


# -- shared helpers ----------------------------------------------------------------

def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc") and not f.startswith("_"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def store_bytes(store_dir: str) -> dict:
    return {
        "postings": dir_bytes(os.path.join(store_dir, "postings")),
        "docs": dir_bytes(os.path.join(store_dir, "docs")),
        "terms_stats": dir_bytes(os.path.join(store_dir, "terms_stats")),
    }


def record_bytes(ctx: Ctx, sizes: dict, text_bytes: int) -> None:
    for k, v in sizes.items():
        ctx.layer[f"index.segments.{k}_bytes"] = float(v)
    ctx.notes["index_bytes"] = sizes
    ctx.notes["index_bytes_per_text_byte"] = sum(sizes.values()) / text_bytes


def check(ctx: Ctx, op: dict, reason: str | None) -> None:
    ctx.checks.append((op["id"], reason))


def run_cycles(ctx: Ctx, workload: str, cycle) -> int:
    """Call ``cycle(k)`` for k = 0, 1, ...: at least MIN_CYCLES[workload]
    times, then again while --seconds have not passed since the first.
    Returns the number of cycles run."""
    t_end = time.perf_counter() + ctx.seconds
    k = 0
    while k < MIN_CYCLES[workload] or time.perf_counter() < t_end:
        cycle(k)
        k += 1
    return k


def run_query(ctx: Ctx, index, spec: QuerySpec, kind: str) -> tuple[dict, list]:
    """One timed top-k op: parse, search, and the final collect."""
    rows: list = []
    with ctx.rec.op(kind) as op:
        op["shape"] = op["pair"] = spec.shape
        q = spec.parse()
        df = executor.Searcher(index).search(q, K)
        with ctx.rec.span("search.executor.execute"):
            rows = [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]
    return op, rows


def check_query(ctx: Ctx, op: dict, rows: list, spec: QuerySpec,
                oracle: OracleIndex) -> None:
    if op["error"]:
        check(ctx, op, op["error"])
        return
    expected = orc.evaluate(oracle, spec.parse())
    reason = orc.compare_top_k(rows, expected, K)
    check(ctx, op, None if reason is None else f"{spec.text}: {reason}")


def alternate_spans(ctx: Ctx, i: int) -> None:
    """Traced runs record spans on every other timed op; the others
    measure the same op without tracing (the overhead figure)."""
    ctx.rec.spans_on = ctx.rec.traced and i % 2 == 0


def span_modes(ctx: Ctx, i: int) -> tuple[bool, ...]:
    """Whether the i-th read runs with spans, once per run of it. A traced
    run makes each read twice, with spans and without, in alternating
    order, so the overhead figure compares the same read."""
    if not ctx.rec.traced:
        return (False,)
    return (True, False) if i % 2 == 0 else (False, True)


def setup_step(ctx: Ctx, fn):
    """The program set-up calls before the first timed op, timed into
    setup_s. Returns what ``fn`` returns. The memory window of
    peak_rss_mb opens here: the benchmark's own inputs and oracle are
    built before it."""
    ctx.rss.start()
    ctx.rec.spans_on = ctx.rec.traced
    out = None
    with ctx.rec.op("setup", timed=False) as op:
        out = fn()
    if op["error"]:
        raise RuntimeError(f"set-up failed: {op['error']}")
    ctx.setup_program_s = op["seconds"]
    ctx.setup_op = op
    return out


def tokenize_rate(ctx: Ctx, texts: list[str], repeats: int = 3) -> None:
    """The analysis kernel, single-threaded on the workload's own texts,
    in batches of the size Spark hands a Python worker."""
    series = [
        pd.Series(texts[i: i + TOKENIZE_BATCH])
        for i in range(0, len(texts), TOKENIZE_BATCH)
    ]
    rates = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        tokens = sum(len(tokenize_flat(s)["term"]) for s in series)
        rates.append(tokens / (time.perf_counter() - t0))
    ctx.layer["analysis.tokenize_flat_tokens_per_s"] = statistics.median(rates)


def codec_rates(ctx: Ctx, per_term: dict) -> None:
    """encode_term_blocks and decode_block on the workload's own postings
    (``per_term``: term -> (doc_ids, tfs, norm_bytes, positions))."""
    t0 = time.perf_counter()
    blocks = [b for args in per_term.values() for b in codec.encode_term_blocks(*args)]
    enc_s = time.perf_counter() - t0
    n = sum(len(args[0]) for args in per_term.values())
    t0 = time.perf_counter()
    for b in blocks:
        codec.decode_block(b["first_doc"], b["num_docs"], b["docs_bin"],
                           b["tfs_bin"], b["norms_bin"], b["pos_bin"])
    dec_s = time.perf_counter() - t0
    ctx.layer["index.codec.encode_postings_per_s"] = n / enc_s
    ctx.layer["index.codec.decode_postings_per_s"] = n / dec_s
    ctx.notes["codec_sample_postings"] = n


def _top_terms(counts: pd.Series) -> list[str]:
    """The highest-df terms that fill at least one whole block, up to
    CODEC_MAX_POSTINGS postings: long lists, so the rates measure the
    kernels rather than per-call overhead."""
    counts = counts[counts >= codec.BLOCK_SIZE].sort_values(
        ascending=False, kind="stable")
    return counts.index[counts.cumsum() <= CODEC_MAX_POSTINGS].tolist()


def store_postings(store_dir: str) -> dict:
    """Per-term postings decoded from a segment store's own blocks."""
    path = os.path.join(store_dir, "postings")
    meta = pd.read_parquet(path, columns=["term", "num_docs"])
    terms = _top_terms(meta.groupby("term")["num_docs"].sum())
    blocks = pd.read_parquet(path, filters=[("term", "in", terms)])
    out: dict = {}
    for term, grp in blocks.sort_values(["term", "first_doc"]).groupby("term"):
        parts = [
            codec.decode_block(r.first_doc, r.num_docs, r.docs_bin, r.tfs_bin,
                               r.norms_bin, r.pos_bin)
            for r in grp.itertuples(index=False)
        ]
        out[term] = (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
            [pos for p in parts for pos in p[3]],
        )
    return out


# -- query -------------------------------------------------------------------------

BUILD_PHASES = (("plan_docids", "index.docids.plan_s"),
                ("docs_write", "index.segments.docs_write_s"),
                ("pack_write", "index.segments.pack_write_s"),
                ("terms_stats", "index.segments.terms_stats_s"))


def query(ctx: Ctx) -> dict:
    c = make_corpus(ctx)
    docs = ctx.spark.read.parquet(c.path)
    split_range = -(-c.oracle.max_doc // QUERY_SPLITS)
    gen = QueryGen(c.oracle, c.turns, ctx.seed)
    warm = gen.make("term_common")
    # whole shape cycles, drawn up front for the cycles a run always makes
    cycles = [gen.cycle() for _ in range(MIN_CYCLES["query"])]

    def make_store():
        t0 = time.perf_counter()
        seg = segments.build_segment_store(
            ctx.spark, docs, ctx.path("store"), split_range=split_range
        )
        ctx.notes["build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        seg.attach_blooms(build=True)
        ctx.layer["index.bloom.build_s"] = time.perf_counter() - t0
        executor.Searcher(seg).search(warm.parse(), K).collect()
        return seg

    seg = setup_step(ctx, make_store)
    ctx.mark("setup")
    n_splits = seg.stats.max_doc // seg.split_range + 1
    want = (c.oracle.max_doc, c.oracle.sum_ttf)
    got = (seg.manifest["max_doc"], seg.manifest["sum_total_term_freq"])
    check(ctx, ctx.setup_op, None if got == want else
          f"manifest (max_doc, sum_ttf) {got} != oracle {want}")
    # the set-up build is the one index build a run makes: its phases
    # are the build layers' figures
    phases = seg.manifest.get("build_phase_sec", {})
    for name, key in BUILD_PHASES:
        if name in phases:
            ctx.layer[key] = phases[name]

    done: list[tuple[dict, list, QuerySpec]] = []

    def cycle(k: int) -> None:
        if k == len(cycles):
            cycles.append(gen.cycle())
        for i, spec in enumerate(cycles[k]):
            for spans_on in span_modes(ctx, i):
                ctx.rec.spans_on = spans_on
                op, rows = run_query(ctx, seg, spec, "query")
                done.append((op, rows, spec))

    ctx.notes["cycles"] = run_cycles(ctx, "query", cycle)
    specs = [spec for cyc in cycles for spec in cyc]
    ctx.rss.stop()
    ctx.rec.spans_on = False
    ctx.mark("measure")
    for op, rows, spec in done:
        check_query(ctx, op, rows, spec, c.oracle)
    ctx.mark("check")

    ok = [(op, spec) for op, _, spec in done if not op["error"]]
    secs = [op["seconds"] for op, _ in ok]
    by_shape: dict[str, list[float]] = {}
    for op, spec in ok:
        by_shape.setdefault(spec.shape, []).append(op["seconds"] * 1000.0)
    shape_p50 = {shape: percentile(ms, 50.0) for shape, ms in by_shape.items()}
    for shape, ms in shape_p50.items():
        ctx.layer[f"search.shape.{shape}.p50_ms"] = ms
    ctx.notes.update(
        split_count=n_splits,
        split_range=split_range,
        query_mix=describe_stream(specs),
        pruned_shapes=sorted(PRUNED_SHAPES),
        shape_p50_ms=shape_p50,
    )
    kept = [len(seg.blooms.splits_for(spec.terms())) for spec in specs]
    ctx.notes["bloom_keep"] = ratio(sum(kept), n_splits * len(kept))
    record_bytes(ctx, store_bytes(seg.index_dir), c.text_bytes)
    if ctx.rec.traced:
        tokenize_rate(ctx, c.turns["text"].tolist())
        codec_rates(ctx, store_postings(seg.index_dir))
    total = sum(secs)
    return {
        "primary": "query",
        "op_s": secs,
        "turns_per_s": c.oracle.max_doc * len(secs) / total,
        "report": {"queries_per_s": len(secs) / total,
                   "setup_build_turns_per_s": c.oracle.max_doc / ctx.notes["build_s"]},
    }


# -- ingest ------------------------------------------------------------------------

def _deltas(ctx: Ctx, c: Corpus) -> tuple[str, list[tuple[str, pd.DataFrame]]]:
    """Cut the corpus into COMMITS micro-batches of whole conversations,
    in a seeded conversation order, with equal turn counts up to one
    conversation, and write them as parquet in one Spark job, beside a
    warm-up batch: the first conversations of delta 0, up to WARM_TURNS
    turns. Returns the warm-up path and (path, turns) per delta."""
    sizes = c.turns.groupby("conv_id", sort=True).size()
    order = np.random.default_rng(ctx.seed ^ 0xDE17A).permutation(len(sizes))
    sizes = sizes.iloc[order]
    before = sizes.cumsum() - sizes
    group = before * COMMITS // len(c.turns)
    warm = group.index[(group == 0) & (before < WARM_TURNS)]
    mapping = pd.concat([
        pd.DataFrame({"conv_id": group.index, "delta": group.to_numpy()}),
        pd.DataFrame({"conv_id": warm, "delta": -1}),
    ])
    path = ctx.path("deltas")
    ctx.spark.read.parquet(c.path).join(
        ctx.spark.createDataFrame(mapping), "conv_id"
    ).write.partitionBy("delta").parquet(path)
    by_conv = c.turns["conv_id"].map(group.to_dict())
    out = [(os.path.join(path, f"delta={g}"), c.turns[by_conv == g])
           for g in range(COMMITS)]
    return os.path.join(path, "delta=-1"), out


def fresh_read(ctx: Ctx, writer, specs: list[QuerySpec], kind: str, pair=None):
    """One timed op: open a fresh reader and run the fixed query set.
    Returns the op and each query's hits."""
    hits: list[list] = []
    with ctx.rec.op(kind) as op:
        op["pair"] = pair
        reader = writer.reader()
        op["segments"] = len(reader.manifest["segments"])
        op["query_s"] = []
        for spec in specs:
            t0 = time.perf_counter()
            df = executor.Searcher(reader).search(spec.parse(), K)
            with ctx.rec.span("search.executor.execute"):
                hits.append([(int(r["doc_id"]), float(r["score"]))
                             for r in df.collect()])
            op["query_s"].append(time.perf_counter() - t0)
    return op, hits


def check_read(ctx: Ctx, op: dict, hits: list, specs: list[QuerySpec],
               oracle: OracleIndex) -> None:
    if op["error"]:
        check(ctx, op, op["error"])
        return
    for rows, spec in zip(hits, specs):
        check_query(ctx, op, rows, spec, oracle)


def ingest(ctx: Ctx) -> dict:
    c = make_corpus(ctx)
    warm_path, deltas = _deltas(ctx, c)
    ctx.notes["delta_turns"] = [len(p) for _, p in deltas]
    # One oracle per delta, with the doc ids its commit gives it.
    parts: list[OracleIndex] = []
    offset = 0
    for _, part in deltas:
        parts.append(OracleIndex(orc.numbered(part, offset)))
        offset += len(part)
    # Queries come from the first delta, so terms and phrases match
    # from the first commit on, whatever the seed.
    gen = QueryGen(parts[0], orc.numbered(deltas[0][1]), ctx.seed)
    specs = [gen.make(s) for s in INGEST_SHAPES]
    ctx.notes["query_mix"] = describe_stream(specs)

    def warm_cycle():
        """One commit and the whole read set on a throwaway writer: the
        first timed read would otherwise be the first run of each query."""
        w = IncrementalIndexWriter(ctx.spark, ctx.path("warm"))
        w.process_batch(ctx.spark.read.parquet(warm_path), 0)
        reader = w.reader()
        for spec in specs:
            executor.Searcher(reader).search(spec.parse(), K).collect()

    setup_step(ctx, warm_cycle)
    ctx.mark("setup")

    commit_s: list[float] = []
    reads: list[tuple[int, dict, list]] = []  # (commits seen, op, hits)
    writers: list = []

    def cycle(k: int) -> None:
        """One writer takes the COMMITS deltas, with a fresh read after
        each commit. A traced run reads twice at each commit, once with
        spans and once without, in alternating order, so the overhead
        figure compares reads of the same segment count."""
        if writers:
            shutil.rmtree(writers[-1].index_dir, ignore_errors=True)
        writer = IncrementalIndexWriter(ctx.spark, ctx.path(f"nrt{k}"))
        writers.append(writer)
        for j, (path, _part) in enumerate(deltas):
            alternate_spans(ctx, j)
            with ctx.rec.op("commit") as op:
                writer.process_batch(ctx.spark.read.parquet(path), j)
            if op["error"]:
                check(ctx, op, op["error"])
                return
            commit_s.append(op["seconds"])
            for spans_on in span_modes(ctx, j):
                ctx.rec.spans_on = spans_on
                reads.append((j + 1, *fresh_read(ctx, writer, specs,
                                                 "fresh_read", pair=j)))

    ctx.notes["cycles"] = run_cycles(ctx, "ingest", cycle)
    ctx.mark("measure")
    writer = writers[-1]
    ctx.rec.spans_on = ctx.rec.traced
    with ctx.rec.op("compact", timed=False) as cop:
        writer.compact()
    check(ctx, cop, cop["error"])
    after = fresh_read(ctx, writer, specs, "post_compact_read")
    ctx.rss.stop()
    ctx.rec.spans_on = False

    oracles: dict[int, OracleIndex] = {}

    def oracle_after(seen: int) -> OracleIndex:
        if seen not in oracles:
            oracles[seen] = orc.merged(parts[:seen])
        return oracles[seen]

    for seen, op, hits in reads:
        check_read(ctx, op, hits, specs, oracle_after(seen))
    check_read(ctx, *after, specs, oracle_after(len(parts)))
    ctx.mark("compact_check")

    nrt = writer.index_dir  # the deltas together are the whole corpus
    record_bytes(ctx, {"postings": dir_bytes(os.path.join(nrt, "postings")),
                       "docs": dir_bytes(os.path.join(nrt, "docs"))}, c.text_bytes)
    ctx.notes.update(commits=len(commit_s), committed_turns=offset)
    if ctx.rec.traced:
        tokenize_rate(ctx, c.turns["text"].tolist())
    ok = [op for _, op, _ in reads if not op["error"]]
    per_query = [s * 1000.0 for op in ok for s in op["query_s"]]
    # deltas are equal-sized, so the median commit sets the rate
    turns_per_s = offset / len(deltas) / statistics.median(commit_s)
    return {
        "primary": "fresh_read",
        "op_s": [op["seconds"] for op in ok],
        "turns_per_s": turns_per_s,
        "report": {
            "ingest_turns_per_s": turns_per_s,
            "commit_p50_ms": percentile([s * 1000 for s in commit_s], 50.0),
            "fresh_query_p50_ms": percentile(per_query, 50.0) if per_query else float("nan"),
            "compact_s": cop["seconds"],
        },
    }


WORKLOADS = {"query": query, "ingest": ingest}
