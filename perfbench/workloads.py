"""The workloads: what one pass runs, how its output is checked and
how the traced run splits it into layers.

A pass drives sparklog only through its public functions. Each workload
offers:

* ``prepare()`` — seeded inputs and reference results (cached);
* ``compile(spark)`` — build the compiled pipeline / configs (set-up);
* ``warmup(spark)`` — one pass over the warm-up input (seed 0);
* ``before_pass()`` / ``run_pass(spark)`` — clear the output, then the
  timed work; returns its outputs;
* ``check(spark, out, full)`` — compare the outputs with the reference;
  ``full`` also re-reads what the pass wrote; returns the mismatches;
* ``corrupt(out)`` — damage an output so the self-check can prove that
  ``check`` notices;
* ``trace(spark, tracer)`` — per-layer numbers (see ``tracing.py``).
"""

from __future__ import annotations

import os
import shutil
from statistics import median

from pyspark.sql import functions as F

import inputs
from inputs import DEAD_SINK, frac

# the headline spec of the paper's pipeline: unanchored regex over ~1 KB
# documents, a length validator, a lookup that drops on a miss and three
# handlers (one of them the empty template, i.e. the message itself)
ROUTE_WRITE_SPEC = {
    "Parser": {"Mode": "regex",
               "Regex": r"(?P<ts>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})"
                        r" - (?P<levelname>[A-Z]+) - (?P<body>[^\n]*)"},
    "Validators": [{"Mode": "minlength", "Column": "message", "Number": 5}],
    "Rewrites": [
        {"Mode": "set", "Column": "pipeline", "Value": "bench"},
        {"Mode": "lookup", "Lookup": {
            "key": "lang",
            "table": [
                {"lang": "en", "geo": "US"}, {"lang": "zh", "geo": "CN"},
                {"lang": "de", "geo": "DE"}, {"lang": "fr", "geo": "FR"},
                {"lang": "es", "geo": "MX"}, {"lang": "ru", "geo": "RU"},
                {"lang": "ja", "geo": "JP"},
            ],
            "output": {"geo": "string"},
            "on_miss": "drop",
        }},
    ],
    "Handlers": [
        {"Mode": "stream", "Name": "errors",
         "Template": "[${pipeline}/${geo}] ${ts} :: ${body}",
         "Validators": [
             {"Mode": "value", "Column": "levelname", "Value": "ERROR"}]},
        {"Mode": "stream", "Name": "parsed",
         "Template": "${ts} ${levelname} ${body}",
         "Validators": [{"Mode": "required", "Column": "ts"}]},
        {"Mode": "stream", "Name": "raw", "Template": ""},
    ],
}

# a three-pattern grok dictionary (first match wins) evaluated in Python;
# the lookup keeps misses so every url reaches the `raw` sink, whose
# rendered line must equal the generator's text byte for byte
HTML_SPEC = {
    "Parser": {"Mode": "grok", "Patterns": {
        "waf": r"(?P<ts>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})"
               r" - (?P<levelname>[A-Z]+) - (?P<body>[^\n]*)",
        "json": r'\{"level":"(?P<levelname>[A-Z]+)","k":(?P<k>\d+)',
        "prose": r"^(?P<lead>[A-Z][a-z]+) ",
    }},
    "Validators": [{"Mode": "minlength", "Column": "message", "Number": 5}],
    "Rewrites": [
        {"Mode": "set", "Column": "pipeline", "Value": "html"},
        {"Mode": "lookup", "Lookup": {
            "key": "lang",
            "table": ROUTE_WRITE_SPEC["Rewrites"][1]["Lookup"]["table"],
            "output": {"geo": "string"},
            "on_miss": "keep",
        }},
    ],
    "Handlers": [
        {"Mode": "stream", "Name": "raw", "Template": ""},
        {"Mode": "stream", "Name": "errors",
         "Template": "${grok_pattern} ${geo} ${ts} ${body}",
         "Validators": [
             {"Mode": "value", "Column": "levelname", "Value": "ERROR"}]},
        {"Mode": "stream", "Name": "json", "Template": "${levelname}:${k}",
         "Validators": [
             {"Mode": "value", "Column": "grok_pattern", "Value": "json"}]},
    ],
}

KEEP = ["url", "lang", "warc_ts"]


def digest_col(*cols):
    """Spark twin of `inputs.row_digest`: the first 64 bits of
    md5(cols joined by 0x1f), as an exact decimal so sums cannot wrap."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *cols)), 1, 16), 16, 10
    ).cast("decimal(20,0)")


def sink_digests(frame) -> tuple[dict, dict, dict]:
    """One job over a multiplexed output: -> (rows per sink, rows per
    drop reason, digest per sink|reason key)."""
    key = F.when(F.col("sink") == DEAD_SINK,
                 F.concat(F.lit("reason:"), F.col("rendered"))) \
        .otherwise(F.lit("sink"))
    rows = (
        frame.groupBy("sink", key.alias("k"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(digest_col("sink", "url", F.coalesce(
                 "rendered", F.lit("")))).alias("d"))
        .collect()
    )
    sinks: dict = {}
    drops: dict = {}
    digests: dict = {}
    for r in rows:
        sinks[r["sink"]] = sinks.get(r["sink"], 0) + r["n"]
        if r["sink"] == DEAD_SINK:
            drops[r["k"][len("reason:"):]] = r["n"]
        digests[f"{r['sink']}|{r['k']}"] = str(int(r["d"]))
    return sinks, drops, digests


def compare(name: str, got, want, problems: list) -> None:
    if got != want:
        problems.append(f"{name}: got {_short(got)} want {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


def _noop(df) -> None:
    """Materialize every column of a fresh plan and write nothing."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    total = files = 0
    for dp, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dp, n))
                files += 1
    return total, files


class Workload:
    """Shared parts: a pages input, a compiled pipeline over it and the
    incremental layer plans of the traced run."""

    name = ""
    spec_dict: dict = {}
    regex_strategy = "native"
    filler = 0        # filler_sentences of the generated documents
    size = 0          # generated documents of a measured run
    tiny_size = 0     # generated documents under the self-check (--tiny)
    copies = 1        # the input holds every generated document this often
    n_files = 8
    min_passes = 3    # timed passes even when --seconds is short

    def __init__(self, cache, work: str, seed: int, tiny: bool) -> None:
        self.cache = cache
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.n = self.tiny_size if tiny else self.size
        os.makedirs(self.work, exist_ok=True)

    def prepare(self) -> None:
        """Seeded input + reference, and the warm-up input: seed 0, of
        the same size and files, because a first pass over a larger input
        than the warm-up's still pays JIT and Python-worker warm-up."""
        from logagent_spark.config import PipelineSpec

        self.spec = PipelineSpec.from_dict(self.spec_dict, name=self.name)
        entry, self.ref = self.cache.get(
            self.name, self.seed, self.n * self.copies,
            lambda d: self.build(d, self.n, self.seed, self.n_files,
                                 self.copies))
        self.input_path = os.path.join(entry, "pages")
        warm, _ = self.cache.get(
            self.name, 0, self.n * self.copies,
            lambda d: self.build(d, self.n, 0, self.n_files, self.copies))
        self.warm_path = os.path.join(warm, "pages")

    def build(self, d: str, n: int, seed: int, n_files: int,
              copies: int) -> dict:
        """Write the input under `d` and return its reference."""
        return inputs.build_pages(d, spec=self.spec, n=n, seed=seed,
                                  filler=self.filler, n_files=n_files,
                                  copies=copies)

    def compile(self, spark) -> None:
        from logagent_spark.plans.pipeline import CompiledPipeline

        self.pipe = CompiledPipeline(self.spec,
                                     regex_strategy=self.regex_strategy)

    @staticmethod
    def adapter(df):
        from logagent_spark.sources import from_pages

        return from_pages(df)

    @property
    def out_dir(self) -> str:
        return os.path.join(self.work, "out")

    def before_pass(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    @property
    def input_bytes(self) -> int:
        return _dir_bytes(self.input_path)[0]

    def matched(self):
        """Rows the parser recovered a payload from."""
        return F.col("ts").isNotNull()

    def pipeline_layers(self, spark, tracer, extract=None) -> tuple:
        """Incremental noop plans, each built fresh: scan [-> +extract] ->
        +parse -> +validate/enrich -> +router. A layer's time is the
        difference between consecutive plans. -> (metrics, router step)."""
        from logagent_spark.config import PipelineSpec
        from logagent_spark.plans.pipeline import CompiledPipeline

        parse_only = CompiledPipeline(
            PipelineSpec.from_dict({"Parser": self.spec_dict["Parser"]},
                                   name="parse_only"),
            regex_strategy=self.regex_strategy)

        def src():
            return spark.read.parquet(self.input_path)

        m: dict = {}
        with tracer.action("scan") as prev:
            _noop(src())
        m["sources.scan_s"] = prev.seconds
        m["sources.input_bytes"] = self.input_bytes
        if extract is not None:
            with tracer.action("extract") as ext:
                _noop(extract(src()))
            m["web.extract_s"] = ext.seconds - prev.seconds
            prev = ext
        with tracer.action("parse") as parse:
            _noop(parse_only.transform(self.adapter(src())).frame)
        with tracer.action("enrich") as enrich:
            _noop(self.pipe.transform(self.adapter(src())).frame)
        with tracer.action("router") as router:
            _noop(self.pipe.multiplexed(
                self.pipe.transform(self.adapter(src())), keep=KEEP))
        m["parsers.parse_s"] = parse.seconds - prev.seconds
        m["enrich.s"] = enrich.seconds - parse.seconds
        m["router.s"] = router.seconds - enrich.seconds
        py = parse.python()
        m["parsers.python_s"] = py["run_s"]
        m["parsers.python_bytes_sent"] = py["bytes_sent"]

        with tracer.span("parsers.match_frac"):
            matched = self.pipe.transform(self.adapter(src())).frame \
                .filter(self.matched()).count()
        m["parsers.match_frac"] = frac(matched, self.ref["rows"])
        return m, router

    def sink_metrics(self, spark, m: dict, sink, router,
                     written_path: str) -> None:
        """The sink layer: the traced write step less the router plan;
        drop fractions and router fan-out from the rows the program
        wrote (the dead-letter sink carries one row per dropped row)."""
        written, files = _dir_bytes(self.out_dir)
        m["sinks.write_s"] = sink.seconds - router.seconds
        m["sinks.bytes_written"] = written
        m["sinks.files_written"] = files
        m["sinks.task_skew"] = sink.task_skew()
        m["sinks.out_bytes_per_in_byte"] = frac(written, self.input_bytes)
        sinks, drops, _ = sink_digests(spark.read.parquet(written_path))
        rows = self.ref["rows"]
        m["enrich.drop_frac.validator"] = frac(sum(
            n for r, n in drops.items() if r.startswith("validator:")), rows)
        m["enrich.drop_frac.lookup_miss"] = frac(sum(
            n for r, n in drops.items() if r.startswith("lookup_miss:")),
            rows)
        routed = sum(n for s, n in sinks.items() if s != DEAD_SINK)
        m["router.fanout"] = frac(routed, rows - sum(drops.values()))


# ---------------------------------------------------------------------------

class RouteWrite(Workload):
    name = "route_write"
    spec_dict = ROUTE_WRITE_SPEC
    filler = 10
    # 40 000 generated documents, each twice: a pass of 80 000 rows is
    # long enough that per-row work weighs next to the fixed cost of its
    # jobs, while generating the input stays a few seconds and three
    # passes fit the run's time budget
    size = 40_000
    copies = 2
    tiny_size = 2_000

    def _pass(self, spark, path: str, out_dir: str) -> dict:
        from logagent_spark.plans.pipeline import CompiledPipeline

        res = self.pipe.transform(self.adapter(spark.read.parquet(path)))
        self.pipe.write_sinks(self.pipe.multiplexed(res, keep=KEEP), out_dir)
        groups = _groups(CompiledPipeline.sink_counts(
            self.pipe.routed(res, keep=KEEP),
            lang_col="lang", ts_col="warc_ts"))
        return {"groups": groups,
                "distinct": _distinct_urls(spark.read.parquet(out_dir))}

    def warmup(self, spark) -> None:
        out = os.path.join(self.work, "warmup")
        shutil.rmtree(out, ignore_errors=True)
        self._pass(spark, self.warm_path, out)

    def run_pass(self, spark) -> dict:
        return self._pass(spark, self.input_path, self.out_dir)

    def check(self, spark, out, full: bool) -> list[str]:
        problems: list[str] = []
        want_groups = {k: v for k, v in self.ref["groups"].items()
                       if not k.startswith(DEAD_SINK + "|")}
        compare("sink_counts groups", out["groups"], want_groups, problems)
        compare("count_distinct_salted(url)", out["distinct"],
                self.ref["distinct_urls"], problems)
        if not full:
            return problems
        sinks, drops, digests = sink_digests(spark.read.parquet(self.out_dir))
        compare("per-sink rows", sinks, self.ref["sink_counts"], problems)
        compare("per-reason drops", drops, self.ref["drop_counts"], problems)
        compare("(sink, url, rendered) digest", digests, self.ref["digest"],
                problems)
        return problems

    def corrupt(self, out) -> None:
        k = sorted(out["distinct"])[0]
        out["distinct"][k] += 1

    def trace(self, spark, tracer) -> dict:
        from logagent_spark.plans.pipeline import CompiledPipeline

        m, router = self.pipeline_layers(spark, tracer)
        self.before_pass()
        res = self.pipe.transform(self.adapter(
            spark.read.parquet(self.input_path)))
        with tracer.action("sinks") as sink:
            self.pipe.write_sinks(self.pipe.multiplexed(res, keep=KEEP),
                                  self.out_dir)
        self.sink_metrics(spark, m, sink, router, self.out_dir)
        with tracer.action("aggregate") as agg:
            _groups(CompiledPipeline.sink_counts(
                self.pipe.routed(res, keep=KEEP),
                lang_col="lang", ts_col="warc_ts"))
        m["aggregate.s"] = agg.seconds
        m["aggregate.shuffle_bytes"] = agg.stage_sum("shuffleWriteBytes")
        m["aggregate.shuffle_records"] = agg.stage_sum("shuffleWriteRecords")
        with tracer.action("skew") as sk:
            distinct = _distinct_urls(spark.read.parquet(self.out_dir))
        m["skew.s"] = sk.seconds
        m["skew.task_skew"] = sk.task_skew()
        m["skew.hot_key_share"] = frac(max(distinct.values()),
                                       sum(distinct.values()))
        return m


def _distinct_urls(written) -> dict:
    """count_distinct_salted(url) per (sink, host) over the routed rows of
    a written multiplexed output: the skewed (Zipf host) shuffle."""
    from logagent_spark.plans.skew import count_distinct_salted, host_of

    rows = count_distinct_salted(
        written.filter(F.col("sink") != DEAD_SINK)
        .withColumn("host", host_of(F.col("url"))),
        ["sink", "host"], "url").collect()
    return {f"{r['sink']}|{r['host']}": r["n_distinct"] for r in rows}


def _groups(counts_df) -> dict:
    rows = counts_df.select(
        "sink", "lang",
        F.date_format("time_bucket", "yyyy-MM-dd HH").alias("hour"), "n",
    ).collect()
    return {f"{r['sink']}|{r['lang']}|{r['hour']}": r["n"] for r in rows}


# ---------------------------------------------------------------------------

class HtmlGrokResume(Workload):
    name = "html_grok_resume"
    spec_dict = HTML_SPEC
    regex_strategy = "grok"
    filler = 4
    size = 3_000
    tiny_size = 400
    n_files = 4
    n_chunks = 2
    # a pass is many jobs and takes 6-16 s: one after the same-size
    # warm-up keeps a run within its time budget (a second pass read
    # within a few percent of the first: more time, no steadier runs)
    min_passes = 1
    threshold = 0.9
    # candidate budget handed to suggest_lsh_config: 0.05 gives 42 planes
    # in 6 bands, whose (band, key) groups stay few enough for one run
    max_cand_frac = 0.05
    lsh_seed = 42
    ivf_seed = 7
    k = 3

    def prepare(self) -> None:
        super().prepare()
        self.vref = self.ref["extra"]

    def build(self, d: str, n: int, seed: int, n_files: int,
              copies: int) -> dict:
        return inputs.build_pages(
            d, spec=self.spec, n=n, seed=seed, filler=self.filler,
            n_files=n_files, copies=copies, keep_text=False,
            extra=lambda pdf: inputs.vector_reference(
                pdf, self.vector_configs, self.k))

    def vector_configs(self, n: int) -> tuple[dict, dict]:
        """LSH and IVF sizing from the program's own helpers."""
        from logagent_spark.operators.dedup import suggest_lsh_config
        from logagent_spark.operators.similarity import suggest_ivf_config

        lsh = suggest_lsh_config(self.threshold, n=n,
                                 max_cand_frac=self.max_cand_frac)
        ivf = suggest_ivf_config(n, 0.9)
        return (
            {"n_planes": lsh["n_planes"], "n_chunks": lsh["n_chunks"],
             "seed": self.lsh_seed, "max_bucket_size": 4096,
             "expected_cand_frac": lsh["expected_cand_frac"]},
            {"n_centroids": ivf["n_centroids"], "nprobe": ivf["nprobe"],
             "seed": self.ivf_seed},
        )

    def compile(self, spark) -> None:
        from logagent_spark.operators.similarity import seeded_centroids

        super().compile(spark)
        self.lsh_cfg, self.ivf_cfg = self.vector_configs(self.vref["rows"])
        self.centroids = seeded_centroids(
            inputs.DIM, self.ivf_cfg["n_centroids"], self.ivf_cfg["seed"])

    @staticmethod
    def adapter(df):
        from logagent_spark.operators.web import extract_text_from_html
        from logagent_spark.sources import from_pages

        return from_pages(extract_text_from_html(df))

    def matched(self):
        # the prose pattern is the dictionary's catch-all
        return F.col("grok_pattern").isin("waf", "json")

    def _runner(self, out_dir: str, n_chunks: int):
        from logagent_spark.plans.checkpoint import CheckpointedRunner

        return CheckpointedRunner(self.pipe, out_dir, n_chunks=n_chunks,
                                  source_adapter=self.adapter, keep=KEEP)

    # -- near-duplicate stage over the extracted documents ---------------
    @staticmethod
    def corpus(spark, out_dir: str):
        """md5-byte embeddings of the sampled pages' extracted text (read
        back from the `raw` sink) plus their planted twins."""
        raw = spark.read.parquet(os.path.join(out_dir, "data")) \
            .filter(F.col("sink") == "raw")
        h = F.md5("rendered")
        base = raw.filter(F.crc32("url") % inputs.SAMPLE_MOD == 0).select(
            F.col("url").alias("vec_id"),
            F.array(*[
                (F.conv(F.substring(h, 1 + 2 * i, 2), 16, 10).cast("int")
                 - 128).cast("double")
                for i in range(inputs.DIM)
            ]).alias("embedding"),
        )
        twins = base.filter(F.crc32("vec_id") % inputs.TWIN_MOD == 0).select(
            F.concat("vec_id", F.lit("#dup")).alias("vec_id"),
            F.transform("embedding", lambda x, i: x + F.when(
                i == 0, F.lit(inputs.TWIN_BUMP)).otherwise(0.0)
            ).alias("embedding"),
        )
        return base.unionByName(twins)

    def _lsh(self, corpus):
        from logagent_spark.operators.dedup import embedding_candidate_pairs

        return embedding_candidate_pairs(
            corpus, "vec_id", "embedding", dim=inputs.DIM,
            n_planes=self.lsh_cfg["n_planes"], seed=self.lsh_cfg["seed"],
            n_chunks=self.lsh_cfg["n_chunks"],
            max_bucket_size=self.lsh_cfg["max_bucket_size"])

    def _knn(self, corpus):
        from logagent_spark.operators.similarity import knn_join_ivf

        queries = corpus.filter(F.col("vec_id").endswith("#dup")).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"))
        return knn_join_ivf(
            corpus, "embedding", queries, self.centroids, k=self.k,
            nprobe=self.ivf_cfg["nprobe"], strategy="pandas")

    @staticmethod
    def _is_twin_pair():
        return F.col("b") == F.concat("a", F.lit("#dup"))

    # -- one pass ----------------------------------------------------------
    def _pass(self, spark, input_path: str, out_dir: str,
              n_chunks: int) -> dict:
        first = self._runner(out_dir, n_chunks).run(
            spark, input_path, max_chunks=n_chunks // 2)
        resumed = self._runner(out_dir, n_chunks)
        second = resumed.run(spark, input_path)
        first_ids = {r.chunk_id for r in first}
        corpus = self.corpus(spark, out_dir)
        ppm = F.floor(F.col("cos") * 1_000_000)
        near = ppm >= 900_000
        # one summary job over the candidates: counts plus an
        # order-independent fingerprint of (a, b, cos ppm)
        lsh = self._lsh(corpus).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(near).alias("useful"),
            F.count_if(near & self._is_twin_pair()).alias("planted"),
            F.sum(digest_col("a", "b", ppm.cast("string"))).alias("digest"),
        ).collect()[0]
        knn = self._knn(corpus).select("query_id", "vec_id", "cos_ppm") \
            .collect()
        return {
            "first": sorted(first_ids),
            "resumed": sorted(r.chunk_id for r in second if r.resumed),
            "rerun": [r.chunk_id for r in second
                      if not r.resumed and r.chunk_id in first_ids],
            "totals": resumed.totals(),
            "out_dir": out_dir,
            "candidates": lsh["n"],
            "digest": str(int(lsh["digest"] or 0)),
            "useful": lsh["useful"],
            "planted_found": lsh["planted"],
            "knn": [(r["query_id"], r["vec_id"], r["cos_ppm"]) for r in knn],
        }

    def warmup(self, spark) -> None:
        out = os.path.join(self.work, "warmup")
        shutil.rmtree(out, ignore_errors=True)
        self._pass(spark, self.warm_path, out, self.n_chunks)

    def run_pass(self, spark) -> dict:
        return self._pass(spark, self.input_path, self.out_dir,
                          self.n_chunks)

    def check(self, spark, out, full: bool) -> list[str]:
        problems: list[str] = []
        compare("chunks run before the kill", len(out["first"]),
                self.n_chunks // 2, problems)
        compare("chunks resumed", out["resumed"], out["first"], problems)
        compare("chunks rerun", out["rerun"], [], problems)
        t = out["totals"]
        compare("manifest chunks", t["chunks"], self.n_chunks, problems)
        compare("manifest rows_in", t["rows_in"], self.ref["rows"], problems)
        compare("manifest sink counts", t["sink_counts"],
                {k: v for k, v in self.ref["sink_counts"].items()
                 if k != DEAD_SINK}, problems)
        compare("manifest drop counts",
                {k: v for k, v in t["drop_counts"].items() if v},
                self.ref["drop_counts"], problems)
        v = self.vref
        compare("vector configs", (self.lsh_cfg, self.ivf_cfg),
                (v["lsh_config"], v["ivf_config"]), problems)
        lsh, knn = v["lsh"], v["knn"]
        compare("LSH candidates", out["candidates"], lsh["candidates"],
                problems)
        compare("LSH candidate digest", out["digest"], lsh["digest"],
                problems)
        compare("LSH pairs >= 0.9", out["useful"], lsh["useful"], problems)
        compare("LSH planted twins found", out["planted_found"],
                lsh["planted_found"], problems)
        compare("k-NN rows", len(out["knn"]), knn["queries"] * self.k,
                problems)
        compare("k-NN digest", str(sum(
            inputs.row_digest(q, i, str(p)) for q, i, p in out["knn"])),
            knn["digest"], problems)
        if not full:
            return problems
        # the raw sink renders the extracted message: its digest equals
        # the generator text's only if every url's text is byte-identical
        sinks, _, digests = sink_digests(
            spark.read.parquet(os.path.join(out["out_dir"], "data")))
        compare("per-sink rows", sinks, self.ref["sink_counts"], problems)
        compare("(sink, url, rendered) digest", digests, self.ref["digest"],
                problems)
        return problems

    def corrupt(self, out) -> None:
        out["totals"]["rows_in"] += 1

    # -- traced run --------------------------------------------------------
    def trace(self, spark, tracer) -> dict:
        from logagent_spark.operators.web import extract_text_from_html

        m, router = self.pipeline_layers(
            spark, tracer, extract=extract_text_from_html)

        # the checkpointed run: first half, then the resume
        self.before_pass()
        with tracer.action("sinks") as sink:
            first = self._runner(self.out_dir, self.n_chunks).run(
                spark, self.input_path, max_chunks=self.n_chunks // 2)
            resumed = self._runner(self.out_dir, self.n_chunks)
            with tracer.span("checkpoint.resume_plan") as plan:
                resumed.committed_chunks()
            second = resumed.run(spark, self.input_path)
        self.sink_metrics(spark, m, sink, router,
                          os.path.join(self.out_dir, "data"))
        secs = [c["seconds"] for c in resumed.committed_chunks().values()]
        m["checkpoint.chunk_s_p50"] = median(secs)
        m["checkpoint.chunk_s_max"] = max(secs)
        m["checkpoint.resume_plan_s"] = plan.seconds
        first_ids = {r.chunk_id for r in first}
        m["checkpoint.chunks_resumed"] = sum(r.resumed for r in second)
        m["checkpoint.chunks_rerun"] = sum(
            1 for r in second if not r.resumed and r.chunk_id in first_ids)

        corpus = self.corpus(spark, self.out_dir)
        near = F.floor(F.col("cos") * 1_000_000) >= 900_000
        with tracer.action("dedup") as dd:
            lsh = self._lsh(corpus).agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(near).alias("useful"),
                F.count_if(near & self._is_twin_pair()).alias("planted"),
            ).collect()[0]
        with tracer.action("similarity") as sim:
            top = self._knn(corpus).collect()
        v = self.vref
        py_lsh = dd.python_by_node()
        m["dedup.band_keys_s"] = py_lsh.get("MapInPandas", 0.0)
        m["dedup.score_s"] = py_lsh.get("FlatMapGroupsInPandas", 0.0)
        m["dedup.candidates"] = lsh["n"]
        m["dedup.cand_frac"] = frac(lsh["n"], v["all_pairs"])
        m["dedup.cand_frac_predicted"] = self.lsh_cfg["expected_cand_frac"]
        m["dedup.useful_frac"] = frac(lsh["useful"], lsh["n"])
        m["dedup.shuffle_bytes"] = dd.stage_sum("shuffleWriteBytes")
        m["dedup.recall"] = frac(lsh["planted"], v["lsh"]["planted"])
        py_sim = sim.python_by_node()
        m["similarity.assign_s"] = py_sim.get("MapInPandas", 0.0)
        m["similarity.score_s"] = py_sim.get("FlatMapCoGroupsInPandas", 0.0)
        m["similarity.shuffle_bytes"] = sim.stage_sum("shuffleWriteBytes")
        hits = sum(1 for r in top if r["query_id"] == r["vec_id"] + "#dup")
        m["similarity.recall"] = frac(hits, v["knn"]["queries"])
        return m


WORKLOADS = {w.name: w for w in (RouteWrite, HtmlGrokResume)}
