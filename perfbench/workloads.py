"""The three benchmark workloads.

Each workload builds its inputs from the seed (``prepare``), warms up
(``warm_up``: the incremental bootstrap ingest; batch and catalog
operations are measured cold, as their spark-submit user sees them), then
runs measured operations (``op``) in a closed loop with one client. With
tracing on, ``probe`` adds the calls that attribute an operation's cost to
single layers, and after the loop ``gates`` checks the outputs.

Everything here calls the package through its public functions only.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from .inputs import catalog_frames, page_frame
from .probes import dir_stats


@dataclass
class OpResult:
    #: wall time of the whole operation
    seconds: float
    #: the latency a user waits for (the whole op, or commit -> caught up)
    latency: float
    #: work items completed (documents, pages, distinct mentions)
    units: int
    out_bytes: int
    in_bytes: int
    #: per-layer metrics of this operation (filled in for every op, read
    #: only from traced ops)
    layers: dict = field(default_factory=dict)


def noop(df) -> None:
    """Run ``df`` to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def parquet_bytes(*paths: str) -> int:
    return sum(dir_stats(p, ".parquet")[1] for p in paths)


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, cpus: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.cpus = cpus
        #: checkpoint / extract partitions: one per core
        self.n_parts = cpus

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, k: int) -> OpResult:
        raise NotImplementedError

    def probe(self, res: OpResult) -> None:
        raise NotImplementedError

    def gates(self) -> dict[str, bool]:
        raise NotImplementedError

    def inputs(self) -> dict:
        """Input properties, printed with the result."""
        raise NotImplementedError

    def named(self, results: list[OpResult]) -> dict:
        """This workload's end-to-end metrics under their own names, for
        the human-readable line (the final line uses the generic names)."""
        return {}

    # ------------------------------------------------- shared layer probes

    def link_probe(self, phrases, aliases, layers: dict) -> None:
        """linking.* counters for a phrases frame: a standalone
        ``link_mentions`` pass and the public ``candidate_pairs``."""
        from ner_app_spark.operators.linking import candidate_pairs, link_mentions

        mentions = (
            phrases.filter(F.col("head_noun") != "")
            .select(F.col("head_noun").alias("mention"))
            .distinct()
            .localCheckpoint()
        )
        with self.tr.span("linking.link_mentions") as s:
            n_links = link_mentions(phrases, aliases).count()
        with self.tr.span("linking.candidate_pairs"):
            n_cand = candidate_pairs(mentions, aliases).count()
        layers.setdefault("linking.link_s", s.dur)
        layers.setdefault("linking.links", n_links)
        layers["linking.mentions"] = mentions.count()
        layers["linking.candidate_pairs"] = n_cand
        layers["linking.links_per_candidate"] = layers["linking.links"] / max(n_cand, 1)

    def extract_probe(self, pages, layers: dict) -> None:
        """extract.text_s / extract.analyze_s: each extract stage run on
        its own, to a no-op sink."""
        from ner_app_spark.operators.extract import (
            extract_phrases_and_triples,
            extracted_text,
        )

        with self.tr.span("extract.extracted_text") as s:
            noop(extracted_text(pages))
        layers["extract.text_s"] = s.dur
        text = extracted_text(pages).localCheckpoint()
        with self.tr.span("extract.extract_phrases_and_triples") as s:
            noop(
                extract_phrases_and_triples(
                    text, num_partitions=self.n_parts, text_col="extracted"
                )
            )
        layers["extract.analyze_s"] = s.dur

    def components_probe(self, links, layers: dict) -> None:
        """components.rounds from the checkpoint manifests a workdir
        run of ``canonicalize`` leaves (one directory per CC round)."""
        from ner_app_spark.operators.components import canonicalize

        wd = self.path("cc-probe")
        shutil.rmtree(wd, ignore_errors=True)
        with self.tr.span("components.canonicalize_workdir"):
            canonicalize(links.select("mention", "entity_id"), workdir=wd).count()
        layers["components.rounds"] = sum(
            n.startswith("cc_round_") for n in os.listdir(wd)
        )
        shutil.rmtree(wd, ignore_errors=True)

    def icelite_probe(self, tables: list[str], scan_path: str, layers: dict) -> None:
        from ner_app_spark.tables.icelite import IceTable

        with self.tr.span("icelite.scan") as s:
            IceTable(scan_path).scan(self.spark)[0].count()
        layers["icelite.scan_s"] = s.dur
        layers["icelite.data_files"] = sum(
            dir_stats(os.path.join(t, "data"), ".parquet")[0] for t in tables
        )
        layers["icelite.metadata_bytes"] = sum(
            dir_stats(os.path.join(t, "metadata"))[1] for t in tables
        )


# ---------------------------------------------------------------- gates


def canon_is_component_min(links_rows, canon_rows) -> bool:
    """Every key's canonical id is the smallest entity id of its
    connected component in the (mention, entity_id) link graph, and every
    linked mention and entity has exactly one canonical row."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for m, e in links_rows:
        parent[find(("m", m))] = find(("e", int(e)))
    smallest: dict = {}
    for node in list(parent):
        if node[0] == "e":
            r = find(node)
            smallest[r] = min(smallest.get(r, node[1]), node[1])
    expected = {
        (str(k) if kind == "e" else k, "entity" if kind == "e" else "mention"):
        smallest[find((kind, k))]
        for kind, k in parent
    }
    got = {(r[0], r[1]): int(r[2]) for r in canon_rows}
    return len(got) == len(canon_rows) and got == expected


def oracle_agrees(pages: list[dict], phrases, triples) -> bool:
    """Per-url phrase and triple sets equal ``ner_app_spark.oracle`` on
    the given pages (the pipeline extracts only non-empty lang='ru'
    docs; every other page must have no rows)."""
    from ner_app_spark.oracle import analyze, triples_for_doc

    urls = [p["url"] for p in pages]
    got_p = sorted(
        tuple(r)
        for r in phrases.filter(F.col("url").isin(urls))
        .select("url", "phrase", "type", "tfidf", "length", "head_noun")
        .collect()
    )
    got_t = sorted(
        tuple(r)
        for r in triples.filter(F.col("url").isin(urls))
        .select("url", "subj", "pred", "obj")
        .collect()
    )
    want_p, want_t = [], []
    for p in pages:
        if p["lang"] != "ru" or not p["text"]:
            continue
        ph = analyze(p["text"])
        want_p += [(p["url"], *x) for x in ph]
        want_t += triples_for_doc(p["url"], ph)
    return got_p == sorted(want_p) and got_t == sorted(want_t)


def same_rows(a, b) -> bool:
    """Multiset equality of two frames with the same columns."""
    return a.count() == b.count() and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ---------------------------------------------------------- batch_build


class BatchBuild(Workload):
    """``jobs/run_pipeline.py --workdir`` on an icelite pages table:
    read_pages -> run_pipeline -> pipeline_counters -> write_outputs,
    plus materializing ``canon``."""

    name = "batch_build"
    PAGES = 200
    TABLE_FILES = 4
    ORACLE_SAMPLE = 12

    def inputs(self) -> dict:
        return {
            "pages": self.PAGES,
            "table_files": self.TABLE_FILES,
            "n_parts": self.n_parts,
            "lang_mix": "~90% ru, ~10% en/es (package page synthesizer)",
        }

    def prepare(self) -> None:
        from ner_app_spark.tables.icelite import IceTable

        self.pages_path = self.path("pages")
        IceTable.create(
            self.spark,
            self.pages_path,
            page_frame(self.spark, 0, self.PAGES, self.seed, self.cpus),
            target_files=self.TABLE_FILES,
        )
        self.in_bytes = parquet_bytes(os.path.join(self.pages_path, "data"))
        self.last = None

    def _build(self, tag: str):
        from ner_app_spark.plans.pipeline import (
            pipeline_counters,
            run_pipeline,
            write_outputs,
        )
        from ner_app_spark.sources.pages import read_pages

        wd, out_dir = self.path("ckpt-" + tag), self.path("out-" + tag)
        L: dict = {}
        with self.tr.span("icelite.read_pages"):
            pages = read_pages(self.spark, self.pages_path)
        with self.tr.span("pipeline.run_pipeline") as s:
            out = run_pipeline(self.spark, pages, workdir=wd, n_parts=self.n_parts)
        L["pipeline.run_s"] = s.dur
        with self.tr.span("pipeline.pipeline_counters") as s:
            counters = pipeline_counters(out)
        L["pipeline.counters_s"] = s.dur
        with self.tr.span("pipeline.write_outputs") as s:
            write_outputs(out, out_dir)
        L["pipeline.write_outputs_s"] = s.dur
        with self.tr.span("components.canon_write"):
            out.canon.write.parquet(os.path.join(out_dir, "canon"))
        return out, counters, wd, out_dir, L

    def warm_up(self) -> None:
        """None: a batch build is one spark-submit job, so its user pays
        the fresh JVM on every build and the measured build runs cold."""

    def op(self, k: int) -> OpResult:
        if self.last is not None:  # keep one op's outputs on disk
            for d in self.last[2:4]:
                shutil.rmtree(d, ignore_errors=True)
        with self.tr.span("op.batch_build") as s:
            out, counters, wd, out_dir, L = self._build(f"op{k}")
        self.last = (out, counters, wd, out_dir)
        graph_bytes = parquet_bytes(
            *(os.path.join(out_dir, t) for t in ("nodes", "edges", "triples", "links"))
        )
        L["pipeline.spark_jobs"] = s.jobs
        return OpResult(
            seconds=s.dur,
            latency=s.dur,
            units=counters["documents"],
            out_bytes=graph_bytes,
            in_bytes=self.in_bytes,
            layers=L,
        )

    def probe(self, res: OpResult) -> None:
        from ner_app_spark.operators.components import canonicalize
        from ner_app_spark.plans.pipeline import run_pipeline
        from ner_app_spark.sources.pages import alias_dict_df, read_pages

        out, counters, wd, out_dir = self.last
        L = res.layers
        L["extract.docs"] = counters["documents"]
        L["extract.phrases"] = counters["phrases"]
        L["extract.triples"] = counters["triples"]
        L["graph.nodes"] = counters["nodes"]
        L["graph.edges"] = counters["edges"]
        L["graph.edges_per_triple"] = counters["edges"] / max(counters["triples"], 1)
        stage = {m.stage: m for m in out.metrics}
        for name in ("extracted", "analysis"):
            L[f"checkpoint.stage_s.{name}"] = stage[name].wall_ms / 1000
        L["checkpoint.parts_computed"] = sum(m.parts_computed for m in out.metrics)
        L["checkpoint.files"], L["checkpoint.bytes_written"] = dir_stats(wd)
        with self.tr.span("checkpoint.resume") as s:
            again = run_pipeline(
                self.spark, read_pages(self.spark, self.pages_path),
                workdir=wd, n_parts=self.n_parts,
            )
        L["checkpoint.resume_s"] = s.dur
        L["checkpoint.parts_skipped"] = sum(m.parts_skipped for m in again.metrics)
        self.extract_probe(read_pages(self.spark, self.pages_path), L)
        L["linking.links"] = counters["links"]
        self.link_probe(out.phrases, alias_dict_df(self.spark), L)
        links = self.spark.read.parquet(os.path.join(out_dir, "links"))
        with self.tr.span("components.canonicalize") as s:
            n_comp = canonicalize(links.select("mention", "entity_id")).select(
                "canon"
            ).distinct().count()
        L["components.canonicalize_s"] = s.dur
        L["components.components"] = n_comp
        L["components.edges_in"] = links.count()
        L["components.rounds"] = sum(
            n.startswith("cc_round_") for n in os.listdir(os.path.join(wd, "cc"))
        )
        self.icelite_probe([self.pages_path], self.pages_path, L)

    def gates(self) -> dict[str, bool]:
        from ner_app_spark.sources.pages import read_pages
        from ner_app_spark.synth import synth_page

        out, _counters, _wd, out_dir = self.last
        pages = read_pages(self.spark, self.pages_path).select("url", "text")
        ex = out.extracted.select("url", "extracted")
        bad = (
            pages.join(ex, "url", "full_outer")
            .filter(~F.col("text").eqNullSafe(F.col("extracted")))
            .count()
        )
        rng = random.Random(f"oracle:{self.seed}")
        sample = [
            synth_page(i, self.seed)
            for i in rng.sample(range(self.PAGES), self.ORACLE_SAMPLE)
        ]
        links = self.spark.read.parquet(os.path.join(out_dir, "links"))
        canon = self.spark.read.parquet(os.path.join(out_dir, "canon"))
        return {
            "text_byte_identical": bad == 0,
            "oracle_sample": oracle_agrees(sample, out.phrases, out.triples),
            "canon_is_component_min": canon_is_component_min(
                links.select("mention", "entity_id").collect(), canon.collect()
            ),
        }


# ---------------------------------------------------- incremental_ingest


class IncrementalIngest(Workload):
    """A bootstrapped pages table grows by small crawl dumps
    (``IceTable.append``); after each dump ``run_incremental`` catches the
    phrases, triples and links tables up."""

    name = "incremental_ingest"
    BOOT_PAGES = 100
    DUMP_PAGES = 200
    #: dumps generated per staging job (staging runs between operations)
    CHUNK = 3

    def inputs(self) -> dict:
        return {
            "bootstrap_pages": self.BOOT_PAGES,
            "dump_pages": self.DUMP_PAGES,
            "n_parts": self.n_parts,
            "lang_mix": "~90% ru, ~10% en/es (package page synthesizer)",
        }

    def prepare(self) -> None:
        from ner_app_spark.tables.icelite import IceTable

        self.pages_path = self.path("pages")
        self.out_root = self.path("kg")
        self.tables = [self.pages_path] + [
            os.path.join(self.out_root, t) for t in ("phrases", "triples", "links")
        ]
        self.next_page = self.BOOT_PAGES
        self.staged: list[str] = []
        boot = self._stage(boot=self.BOOT_PAGES)
        IceTable.create(
            self.spark,
            self.pages_path,
            self.spark.read.parquet(os.path.join(boot, "dump=-1")),
            target_files=2,
        )

    def _stage(self, boot: int = 0) -> str:
        """Generate the next chunk of crawl dumps into parquet, one
        directory per dump (runs between operations, never inside one).
        ``boot`` more pages before them land in ``dump=-1``."""
        lo = self.next_page + len(self.staged) * self.DUMP_PAGES
        d = self.path(f"pages-{lo - boot}")
        page_id = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
        dump = F.when(page_id < lo, -1).otherwise(
            F.floor((page_id - lo) / self.DUMP_PAGES)
        )
        hi = lo + self.CHUNK * self.DUMP_PAGES
        page_frame(self.spark, lo - boot, hi, self.seed, self.cpus).withColumn(
            "dump", dump
        ).write.partitionBy("dump").parquet(d)
        self.staged += [os.path.join(d, f"dump={j}") for j in range(self.CHUNK)]
        return d

    def _next_dump(self):
        """The next staged crawl dump as a DataFrame."""
        if not self.staged:
            self._stage()
        self.next_page += self.DUMP_PAGES
        return self.spark.read.parquet(self.staged.pop(0))

    def _ingest(self) -> tuple:
        from ner_app_spark.plans.incremental import (
            last_consumed_snapshot,
            run_incremental,
        )
        from ner_app_spark.tables.icelite import IceTable

        dump = self._next_dump()
        pages_t = IceTable(self.pages_path)
        before = {t: IceTable(t).current_snapshot_id() for t in self.tables}
        in0 = parquet_bytes(os.path.join(self.pages_path, "data"))
        out0 = parquet_bytes(*self.tables[1:])
        L: dict = {}
        with self.tr.span("op.incremental_ingest") as op:
            with self.tr.span("icelite.append") as commit:
                pages_t.append(self.spark, dump)
            if self.tr.enabled:
                to_sid = pages_t.current_snapshot_id()
                marks = {
                    last_consumed_snapshot(IceTable(t)) for t in self.tables[1:]
                }
                L["incremental.extract_passes"] = len(marks - {to_sid})
            with self.tr.span("incremental.run_incremental") as ingest:
                counters = run_incremental(
                    self.spark, self.pages_path, self.out_root, n_parts=self.n_parts
                )
        L["icelite.append_s"] = commit.dur
        L["incremental.run_s"] = ingest.dur
        L["incremental.spark_jobs_per_dump"] = ingest.jobs
        L["extract.docs"] = counters["pages"]
        L["extract.phrases"] = counters["phrases"]
        L["extract.triples"] = counters["triples"]
        res = OpResult(
            seconds=op.dur,
            latency=ingest.dur,
            units=counters["pages"],
            out_bytes=parquet_bytes(*self.tables[1:]) - out0,
            in_bytes=parquet_bytes(os.path.join(self.pages_path, "data")) - in0,
            layers=L,
        )
        return res, dump, before

    def warm_up(self) -> None:
        """The bootstrap ingest: the first run_incremental, over the whole
        table, runs every stage a dump's ingest runs."""
        from ner_app_spark.plans.incremental import run_incremental

        run_incremental(self.spark, self.pages_path, self.out_root, n_parts=self.n_parts)

    def op(self, k: int) -> OpResult:
        res, self._dump, self._before = self._ingest()
        return res

    def named(self, results: list[OpResult]) -> dict:
        lat = sorted(r.latency for r in results)
        p90 = statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0]
        return {
            "ingest_p50_s": statistics.median(lat),
            "ingest_p90_s": p90,
            "ingest_samples": len(lat),
            "dump_commit_p50_s": statistics.median(
                r.layers["icelite.append_s"] for r in results
            ),
        }

    def probe(self, res: OpResult) -> None:
        from ner_app_spark.sources.pages import alias_dict_df
        from ner_app_spark.tables.icelite import IceTable

        L = res.layers
        with self.tr.span("icelite.incremental_scan") as s:
            inc, _ = IceTable(self.pages_path).incremental_scan(
                self.spark, from_snapshot=self._before[self.pages_path]
            )
            inc.count()
        L["icelite.incremental_scan_s"] = s.dur
        self.extract_probe(self._dump, L)
        phrases_path = os.path.join(self.out_root, "phrases")
        new_phrases, _ = IceTable(phrases_path).incremental_scan(
            self.spark, from_snapshot=self._before[phrases_path]
        )
        self.link_probe(new_phrases, alias_dict_df(self.spark), L)
        self.icelite_probe(self.tables, self.pages_path, L)

    def gates(self) -> dict[str, bool]:
        from ner_app_spark.operators.extract import (
            extract_phrases_and_triples,
            extracted_text,
            fused_triples,
        )
        from ner_app_spark.tables.icelite import IceTable

        def table(name):
            return IceTable(os.path.join(self.out_root, name)).scan(self.spark)[0]

        pages, _ = IceTable(self.pages_path).scan(self.spark)
        fused = extract_phrases_and_triples(
            extracted_text(pages), num_partitions=self.n_parts, text_col="extracted"
        )
        once = fused_triples(fused).localCheckpoint()
        return {
            "exactly_once_triples": same_rows(
                table("triples").select(*once.columns), once
            )
        }


# ------------------------------------------------------ catalog_linking


class CatalogLinking(Workload):
    """An open-vocabulary entity catalog and its mention occurrences:
    link_mentions -> canonicalize -> link_occurrences, each written out."""

    name = "catalog_linking"
    ENTITIES = 3000
    MENTIONS = 9000
    OCCURRENCES = 30000
    LINK_SAMPLE = 80

    def inputs(self) -> dict:
        return {
            "entities": self.ENTITIES,
            "aliases": self.n_aliases,
            "distinct_mentions": self.n_mentions,
            "occurrences": self.OCCURRENCES + self.MENTIONS,
            "lang_mix": "70% Cyrillic, 30% Latin names",
            "skew": "Zipf(1.1) occurrences over mentions",
        }

    def prepare(self) -> None:
        self.main = (self.path("catalog", "aliases"), self.path("catalog", "occurrences"))
        frames = catalog_frames(
            self.spark, self.seed, self.ENTITIES, self.MENTIONS, self.OCCURRENCES,
            self.cpus,
        )
        for df, path in zip(frames, self.main):
            df.write.parquet(path)
        al, ph = (self.spark.read.parquet(p) for p in self.main)
        self.n_aliases = al.count()
        self.n_mentions = ph.select("head_noun").distinct().count()
        self.in_bytes = parquet_bytes(*self.main)
        self.last_dir = None

    def _link(self, out_dir: str) -> dict:
        from ner_app_spark.operators.components import canonicalize
        from ner_app_spark.operators.linking import link_mentions, link_occurrences

        al, ph = (self.spark.read.parquet(p) for p in self.main)
        L: dict = {}
        with self.tr.span("linking.link_mentions") as s:
            link_mentions(ph, al).write.parquet(os.path.join(out_dir, "links"))
        L["linking.link_s"] = s.dur
        links = self.spark.read.parquet(os.path.join(out_dir, "links"))
        with self.tr.span("components.canonicalize") as s:
            canonicalize(links.select("mention", "entity_id")).write.parquet(
                os.path.join(out_dir, "canon")
            )
        L["components.canonicalize_s"] = s.dur
        with self.tr.span("linking.link_occurrences"):
            link_occurrences(ph, links).write.parquet(
                os.path.join(out_dir, "occurrences")
            )
        return L

    def warm_up(self) -> None:
        """None: measured cold, like a linking job's spark-submit."""

    def op(self, k: int) -> OpResult:
        if self.last_dir:
            shutil.rmtree(self.last_dir, ignore_errors=True)
        self.last_dir = out_dir = self.path(f"out-op{k}")
        with self.tr.span("op.catalog_linking") as s:
            L = self._link(out_dir)
        return OpResult(
            seconds=s.dur,
            latency=s.dur,
            units=self.n_mentions,
            out_bytes=parquet_bytes(out_dir),
            in_bytes=self.in_bytes,
            layers=L,
        )

    def _outputs(self):
        read = self.spark.read.parquet
        d = self.last_dir
        return (
            read(self.main[0]),
            read(self.main[1]),
            read(os.path.join(d, "links")),
            read(os.path.join(d, "canon")),
            read(os.path.join(d, "occurrences")),
        )

    def probe(self, res: OpResult) -> None:
        al, ph, links, canon, _occ = self._outputs()
        L = res.layers
        L["linking.links"] = links.count()
        self.link_probe(ph, al, L)
        L["components.edges_in"] = L["linking.links"]
        L["components.components"] = canon.select("canon").distinct().count()
        self.components_probe(links, L)

    def gates(self) -> dict[str, bool]:
        from ner_app_spark.operators.linking import link_mentions_df

        al, ph, links, canon, occ = self._outputs()
        occurrences = [r[0] for r in ph.select("head_noun").collect()]
        sample = random.Random(f"links:{self.seed}").sample(
            sorted(set(occurrences)), self.LINK_SAMPLE
        )
        cols = ["mention", "alias", "entity_id", "canonical_name", "score"]
        ref = link_mentions_df(ph.filter(F.col("head_noun").isin(sample)), al)
        got = links.filter(F.col("mention").isin(sample))
        link_rows = links.select("mention", "entity_id").collect()
        linked = {m for m, _e in link_rows}
        return {
            "link_sample_matches_link_mentions_df": sorted(
                map(tuple, ref.select(*cols).collect())
            ) == sorted(map(tuple, got.select(*cols).collect())),
            "canon_is_component_min": canon_is_component_min(link_rows, canon.collect()),
            "occurrence_fanout": occ.count() == sum(m in linked for m in occurrences),
        }


WORKLOADS = {w.name: w for w in (BatchBuild, IncrementalIngest, CatalogLinking)}
