"""The benchmark's workloads: seeded inputs, one operation, output checks.

Each workload builds its inputs from the seed into a store of parquet
files (the program receives only those files), runs a fixed number of
warm-up operations, and then repeats one operation.  ``check_op`` checks
every operation's output; ``check_run`` compares one operation's output
with an independent oracle once per run, outside the timed interval.
``probes`` runs single layers alone in traced runs only.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from thesaurus_based_ner_spark.functions.matcher import build_matcher, match_sentence
from thesaurus_based_ner_spark.functions.text import sentencize, tokenize
from thesaurus_based_ner_spark.operators.mentions import (
    detect_mentions_df,
    detect_mentions_trie_dist,
    thesaurus_dim_from_df,
)
from thesaurus_based_ner_spark.plans.pipeline import (
    extract_stage,
    run_pipeline,
    sentence_stage,
)
from thesaurus_based_ner_spark.plans.queries import ORACLES, QUERIES
from thesaurus_based_ner_spark.sources.catalog import Catalog
from thesaurus_based_ner_spark.sources.webtext import (
    THESAURUS,
    WEBTEXT_SCHEMA,
    make_document,
    synth_anchor_text,
    synth_redirects,
)

from spans import TracedCatalog, Tracer


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(df: DataFrame) -> tuple[int, int]:
    """Order-insensitive (row count, xor of row hashes)."""
    row = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).first()
    return row["n"], row["x"]


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), f"{out_dir}/part-{i:03d}.parquet")


class KgBuild:
    """One op: plans.pipeline.run_pipeline over a stored seeded crawl, with
    a (term, label) DataFrame thesaurus and a fresh Catalog."""

    name = "kg_build"
    warmup_ops = 3
    N_DOCS = 2_000
    N_FILES = 8  # crawl files; sets the scan's task count
    N_FILLER = 30_000
    N_ANCHOR = 5_000
    N_SAMPLE = 200  # urls compared with the oracle once per run
    # real words of the crawl that seeds add to the dictionary, so each
    # seed changes which mentions exist beyond the fixture terms
    HIT_TERMS = ["quick brown fox", "lazy dog", "brown fox", "filler sentence",
                 "report", "Experts", "initiative", "project", "Researchers"]

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.doc_ids = range(1_000_000 * seed, 1_000_000 * seed + self.N_DOCS)
        self.digest = None
        self.last_root = None

    # -- inputs --------------------------------------------------------------
    def term2label(self) -> dict[str, str]:
        rng = random.Random(self.seed)
        t2l = dict(THESAURUS)
        for term in rng.sample(self.HIT_TERMS, 4):
            t2l[term] = "Misc"
        while len(t2l) < len(THESAURUS) + 4 + self.N_FILLER:
            k = len(t2l)
            toks = [f"zq{rng.randrange(40_000)}"] + [
                f"w{rng.randrange(100_000)}" for _ in range(k % 4)
            ]
            t2l.setdefault(" ".join(toks), f"Filler{k % 37}")
        return t2l

    def build_store(self, dst: str) -> None:
        docs = [make_document(i) for i in self.doc_ids]
        cols = list(zip(*docs))
        table = pa.table(
            {
                "url": pa.array(cols[0], pa.string()),
                "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols[2], pa.binary()),
                "text": pa.array(cols[3], pa.string()),
                "lang": pa.array(cols[4], pa.string()),
            }
        )
        _write_parts(table, f"{dst}/webtext", self.N_FILES)
        t2l = self.term2label()
        _write_parts(
            pa.table({"term": list(t2l), "label": list(t2l.values())}),
            f"{dst}/thesaurus", 4,
        )

    def open_store(self, dst: str) -> None:
        read = self.spark.read
        self.webtext = read.schema(WEBTEXT_SCHEMA).parquet(f"{dst}/webtext")
        self.thesaurus = read.schema("term string, label string").parquet(
            f"{dst}/thesaurus"
        )
        self.anchor = synth_anchor_text(self.spark, self.N_ANCHOR)
        self.redirects = synth_redirects(self.spark)

    # -- the operation ----------------------------------------------------
    def op(self, k: int, traced: bool) -> None:
        root = f"{self.work}/catalog-{k}"
        cat = (
            TracedCatalog(self.spark, root, self.tracer)
            if traced else Catalog(self.spark, root)
        )
        with self.tracer.span("plans.pipeline.run_pipeline", thread_root=True):
            run_pipeline(
                self.spark, cat, self.webtext, self.thesaurus, self.anchor,
                self.redirects, corpus_fingerprint=f"kgbench-seed-{self.seed}",
            )
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root = root

    def triples(self) -> DataFrame:
        return Catalog(self.spark, self.last_root).read("triples")

    def check_op(self) -> str | None:
        got = _digest(self.triples())
        if self.digest is None:
            self.digest = got
        if got != self.digest or got[0] == 0:
            return f"triple digest {got} != first op {self.digest}"
        return None

    # -- once per run -----------------------------------------------------
    def check_run(self) -> list[str]:
        """Mention-level triples of a url sample == the pure-Python matcher
        on make_document, including sampled urls that yield none."""
        rng = random.Random(self.seed + 1)
        sample = rng.sample(list(self.doc_ids), self.N_SAMPLE)
        trie = build_matcher(self.term2label(), tokenize)
        want = set()
        for i in sample:
            url, _, _, text, lang = make_document(i)
            if lang != "en":
                continue
            for sid, snt in enumerate(sentencize(text)):
                toks = tokenize(snt)
                for s, e, lab in match_sentence(trie, toks):
                    mid = f"{url}:{sid}:{s}:{e}"
                    if not lab.startswith("nc-"):
                        want.add((mid, "rdf:type", lab))
                    want.add((mid, "anchorOf", " ".join(toks[s:e])))
                    want.add((mid, "mentionedIn", url))
        urls = [make_document(i)[0] for i in sample]
        t = self.triples()
        rows = t.filter(
            F.col("pred").isin("rdf:type", "anchorOf", "mentionedIn")
            & F.regexp_extract("subj", r"^(.*):\d+:\d+:\d+$", 1).isin(urls)
        ).collect()
        got = {(r.subj, r.pred, r.obj) for r in rows}
        errors = []
        if got != want:
            errors.append(
                f"kg_build oracle: {len(got - want)} extra, {len(want - got)} "
                f"missing, e.g. {sorted(got ^ want)[:3]}"
            )
        if not want:
            errors.append("kg_build oracle: the url sample has no mentions")
        return errors

    def probes(self) -> list[str]:
        """Single layers alone, each to a noop sink, plus the catalog's
        group replacement on the last op's mention table."""
        tr = self.tracer
        sentences_dir = f"{self.work}/probe-sentences"
        sentence_stage(extract_stage(self.webtext)).write.parquet(sentences_dir)
        sentences = self.spark.read.parquet(sentences_dir)
        side = f"{self.work}/probe-side"
        ids = ["url", "snt_id"]
        # writes the trie strategy's side file now, so both strategies
        # start from the same stored inputs
        detect_mentions_trie_dist(sentences, self.thesaurus, ids, side_dir=side)
        with tr.span("functions.text.extract"):
            _noop(extract_stage(self.webtext))
        with tr.span("operators.mentions.dim"):
            _noop(thesaurus_dim_from_df(self.thesaurus))
        with tr.span("operators.mentions.match_df"):
            by_df = detect_mentions_df(sentences, thesaurus_dim_from_df(self.thesaurus), ids)
            _noop(by_df)
        with tr.span("operators.mentions.match_trie"):
            by_trie = detect_mentions_trie_dist(sentences, self.thesaurus, ids, side_dir=side)
            _noop(by_trie)
        errors = []
        cols = ["url", "snt_id", "m_start", "m_end", "surface", "label"]
        if _digest(by_df.select(*cols)) != _digest(by_trie.select(*cols)):
            errors.append("probe: detect_mentions_df != detect_mentions_trie_dist")

        cat = Catalog(self.spark, self.last_root)
        before = _digest(cat.read("mentions"))
        urls = [make_document(i)[0] for i in self.doc_ids[:: 20]]
        # the incoming groups are stored apart: the replacement rewrites
        # the files a lazy filter over the live table would read
        incoming_dir = f"{self.work}/probe-incoming"
        cat.read("mentions").filter(F.col("url").isin(urls)).write.parquet(incoming_dir)
        incoming = self.spark.read.parquet(incoming_dir)
        with tr.span("sources.catalog.replace_groups") as sp:
            cat.replace_groups("mentions", incoming, ["url"], stage="kgbench-probe")
        after = cat.read("mentions")
        sp["rows_in"], sp["rows_out"] = incoming.count(), after.count()
        if _digest(after) != before:
            errors.append("probe: replace_groups with identical groups changed the table")
        return errors


class KbGraph:
    """One op: one pass of the fixpoint and similarity-join queries over
    seeded KB tables, each written to a noop sink."""

    name = "kb_graph"
    warmup_ops = 3
    QUERY_NAMES = ["entity_pagerank", "canonical_components", "dedup_ngram_jaccard"]
    # 60k rows: the l_quantity > 49 edges that canonical_components reads form
    # one component of diameter ~8 for every seed; at 20k they sit near the
    # percolation point and the number of rounds varies with the seed
    N_LINEITEM = 60_000
    N_PART = 1_000
    N_SUPP = 100
    N_DOCS = 300
    ADJ = ["hot", "large", "cold", "small", "new", "blue", "old", "red"]
    NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
    WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.counts = None
        self.last_counts = None
        self.results: dict[str, tuple[list[str], list[dict]]] = {}

    def build_store(self, dst: str) -> None:
        rng = random.Random(self.seed)
        os.makedirs(dst, exist_ok=True)
        n = self.N_LINEITEM
        pq.write_table(pa.table({
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([rng.randrange(self.N_PART) for _ in range(n)], pa.int64()),
            "l_suppkey": pa.array([rng.randrange(self.N_SUPP) for _ in range(n)], pa.int64()),
            "l_quantity": pa.array([float(rng.randint(1, 50)) for _ in range(n)], pa.float64()),
        }), f"{dst}/lineitem.parquet")
        pq.write_table(pa.table({
            "p_partkey": pa.array(range(self.N_PART), pa.int64()),
            "p_name": [f"{rng.choice(self.ADJ)} {rng.choice(self.NOUN)}"
                       for _ in range(self.N_PART)],
        }), f"{dst}/part.parquet")
        texts: list[str] = []
        for _ in range(self.N_DOCS):
            if texts and rng.random() < 0.15:  # near-duplicate of an earlier doc
                toks = rng.choice(texts).split()
                for _ in range(rng.randint(1, 2)):
                    toks[rng.randrange(len(toks))] = "dup"
            else:
                toks = [rng.choice(self.WORDS) for _ in range(rng.randint(8, 80))]
            texts.append(" ".join(toks))
        pq.write_table(pa.table({
            "doc_id": pa.array(range(self.N_DOCS), pa.int64()),
            "text": texts,
            "lang": [rng.choice(["en", "en", "de", "es"]) for _ in texts],
        }), f"{dst}/documents.parquet")

    def open_store(self, dst: str) -> None:
        self.sf_dir = dst

    def op(self, k: int, traced: bool) -> None:
        """The first (warm-up) op collects the results for the oracle check;
        every later op writes them to a noop sink and counts their rows."""
        counts = {}
        for q in self.QUERY_NAMES:
            with self.tracer.span(f"plans.queries.{q}"):
                df = QUERIES[q](self.spark, self.sf_dir)
                if k == 0:
                    self.results[q] = (df.columns, [r.asDict() for r in df.collect()])
                    counts[q] = len(self.results[q][1])
                else:
                    obs = Observation()
                    _noop(df.observe(obs, F.count(F.lit(1)).alias("rows")))
                    counts[q] = obs.get["rows"]
        self.last_counts = counts

    def check_op(self) -> str | None:
        if self.counts is None:
            self.counts = self.last_counts
        if self.last_counts != self.counts:
            return f"row counts {self.last_counts} != first op {self.counts}"
        return None

    def check_run(self) -> list[str]:
        """Each query == its registered DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("lineitem", "part", "documents"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            errors = []
            for q in self.QUERY_NAMES:
                cols, rows = self.results[q]
                cols = sorted(cols)
                got = _normalize(rows, cols)
                ddf = con.execute(ORACLES[q]).fetchdf()
                want = _normalize(ddf.to_dict("records"), sorted(ddf.columns))
                if sorted(ddf.columns) != cols or got != want:
                    errors.append(f"kb_graph oracle: {q} differs from DuckDB "
                                  f"({len(got)} vs {len(want)} rows)")
                elif not got:
                    errors.append(f"kb_graph oracle: {q} returned no rows")
            return errors
        finally:
            con.close()

    def probes(self) -> list[str]:
        return []


def _normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Order-insensitive form; floats to 6 places, integral floats as int."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
                if isinstance(v, float) and v == int(v):
                    v = int(v)
            elif hasattr(v, "item"):  # numpy scalar from DuckDB's frame
                v = v.item()
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


WORKLOADS = {w.name: w for w in (KgBuild, KbGraph)}
