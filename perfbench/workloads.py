"""The three closed-loop workloads, one client each.

Each workload has ``setup`` (inputs, index, warm-up), ``op`` (one timed
unit of user work, optionally traced), ``check`` (output correctness) and
``layers`` (per-layer numbers from a traced run). The engine is driven
only through its public functions: ``sources.extract``,
``operators.{sectioning,chunking,embedding,serving,dedup}``,
``plans.{pipeline,chat}`` and ``sources.sinks``.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

import pyarrow.dataset as pads
from pyspark.sql import functions as F

import gen
from spans import job_stats, log, python_ms

from ade_agente_documental_empresarial___miner_a_spark.operators import dedup
from ade_agente_documental_empresarial___miner_a_spark.operators.chunking import (
    RecursiveCharacterSplitter,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.embedding import (
    embed_one,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.serving import (
    RamServingIndex,
)
from ade_agente_documental_empresarial___miner_a_spark.operators.similarity import (
    topk_similar,
)
from ade_agente_documental_empresarial___miner_a_spark.plans import chat, pipeline
from ade_agente_documental_empresarial___miner_a_spark.sources import sinks
from ade_agente_documental_empresarial___miner_a_spark.sources.extract import (
    binary_scan,
    extract_text,
)


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def materialize(df, rec):
    """Run a layer's output to completion inside its span. The span keeps
    the executed DataFrame, for its plan metrics, and the result."""
    rec["df"] = df
    rec["out"] = df.localCheckpoint(eager=True)
    return rec["out"]


def visible_files(path: str) -> list[str]:
    return [n for n in os.listdir(path) if not n.startswith((".", "_"))]


class Workload:
    name = ""

    def __init__(self, spark, tmp: str, seed: int, walk):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tmp = tmp
        self.rng = random.Random(seed)
        self.walk = walk
        self.opens: list[float] = []  # ms, the workload's "open" wait
        self.py4j = None  # a spans.Py4jCounter in traced runs
        self.untraced_groups: list[str] = []
        self.t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        log(f"{self.name} set-up: {phase} done at {time.perf_counter() - self.t0:.2f}s")

    def traced(self, i: int) -> bool:
        """In a traced run, which ops carry spans; the rest are the
        untraced baseline for the overhead figure and the exact counts."""
        return i % 2 == 1


# --------------------------------------------------------------- ingest


class Ingest(Workload):
    """An admin uploads a batch of files and makes it searchable."""

    name = "ingest"
    FILES = 200  # per upload batch (~2.4k chunks)
    POOL = 4  # distinct batches, cycled

    def setup(self) -> None:
        self.batches = []
        for b in range(self.POOL):
            path = os.path.join(self.tmp, "uploads", f"b{b}")
            src = gen.write_upload_batch(self.rng, path, self.FILES, b * self.FILES)
            self.batches.append((path, src))
        self.saved: dict[int, tuple[int, str]] = {}  # op -> (batch, index ref)
        self.mark("upload files")
        self.next_op = self.warm(lo=3, hi=5, band=0.2)
        self.opens.clear()
        self.untraced_groups.clear()

    def warm(self, lo: int, hi: int, band: float) -> int:
        """Warm-up ops until the last three agree within ``band`` of their
        median (the JIT has settled), at least ``lo`` (3 or more) and at
        most ``hi``.
        Returns the next op index."""
        times: list[float] = []
        while len(times) < hi:
            times.append(self.op(len(times), None)[1])
            last = times[-3:]
            if len(times) >= lo:
                mid = statistics.median(last)
                if max(last) - min(last) <= band * mid:
                    break
        log(f"{self.name} warm-up op seconds: {[round(t, 3) for t in times]}")
        return len(times)

    def _docs(self, extracted):
        return extracted.where(F.col("error").isNull()).select(
            F.regexp_extract("path", r"(\d+)\.\w+$", 1).cast("long").alias("doc_id"),
            "text",
        )

    def op(self, i: int, tr):
        b = i % self.POOL
        path, _ = self.batches[b]
        out = os.path.join(self.tmp, "index", f"op{i}")
        group = f"op-{i}"
        self.sc.setJobGroup(group, "ingest batch")
        t = time.perf_counter()
        if tr is None:
            docs = self._docs(extract_text(binary_scan(self.spark, path)))
            ref = pipeline.save_index(pipeline.build_chunks(docs), out)
            self.untraced_groups.append(group)
        else:
            ref = self._traced_batch(i, tr, path, out)
        dt = time.perf_counter() - t
        self.saved[i] = (b, ref)
        # the upload becomes servable: a serving replica loads the index
        self.sc.setJobGroup(f"open-{i}", "ingest open")
        t = time.perf_counter()
        RamServingIndex.from_frame(pipeline.load_index(self.spark, ref))
        self.opens.append((time.perf_counter() - t) * 1e3)
        return self.FILES, dt

    def _traced_batch(self, i, tr, path, out):
        tr.op = i
        with tr.span("plans.pipeline.batch") as top:
            with tr.span("sources.extract") as rec:
                extracted = materialize(
                    extract_text(binary_scan(self.spark, path)), rec
                )
            with tr.wrapping(
                (pipeline, "assign_sections", "operators.sectioning", materialize),
                (pipeline, "chunk_sections", "operators.chunking", materialize),
                (pipeline, "with_embeddings", "operators.embedding", materialize),
            ):
                chunks = pipeline.build_chunks(self._docs(extracted))
            with tr.span("plans.pipeline.save_index"):
                ref = pipeline.save_index(chunks, out)
        top["extracted"] = extracted
        return ref

    def check(self) -> None:
        split = RecursiveCharacterSplitter()
        expected = {}
        src = {doc_id: s for _, batch in self.batches for doc_id, s in batch.items()}
        rows = extract_text(
            binary_scan(self.spark, os.path.join(self.tmp, "uploads", "*"))
        ).collect()
        require(len(rows) == len(src), f"{len(rows)} files scanned, {len(src)} written")
        for r in rows:
            require(r.error is None, f"extract error {r.path}: {r.error}")
            doc_id = int(re.search(r"(\d+)\.\w+$", r.path).group(1))
            kind, text = src[doc_id]
            want = re.sub(r"\s+", " ", text) if kind == "html" else text
            require(r.text.rstrip("\n") == want, f"extracted text differs: {r.path}")
            n = 0
            for para in r.text.split("\n\n"):
                t = para.strip()
                if len(t) > 5 and re.fullmatch(r"[A-Z\s]+", t):
                    continue  # a title: consumed by sectioning
                n += len(split.split_text(para))
            b = doc_id // self.FILES
            expected[b] = expected.get(b, 0) + n
        for i, (b, ref) in self.saved.items():
            texts = pads.dataset(ref, format="parquet").to_table(columns=["text"])
            got = texts.num_rows
            require(got == expected[b], f"op {i}: {got} chunks, expected {expected[b]}")
            longest = max(len(t) for t in texts.column("text").to_pylist())
            require(longest <= 500, f"op {i}: chunk of {longest} chars")
        self.chunks_per_file = statistics.mean(expected.values()) / self.FILES

    def layers(self, tr) -> dict:
        tops = tr.named("plans.pipeline.batch")
        py = {
            name: statistics.median(python_ms(s["df"], self.walk) for s in tr.named(name))
            for name in ("sources.extract", "operators.chunking", "operators.embedding")
        }
        ok = sum(t["extracted"].where(F.col("text").isNotNull()).count() for t in tops)
        files = sum(t["extracted"].count() for t in tops)
        stats = [job_stats(self.sc, g) for g in self.untraced_groups]
        parts = ("sources.extract", "operators.sectioning", "operators.chunking",
                 "operators.embedding", "plans.pipeline.save_index")
        gaps = [
            100 * (1 - sum(tr.dur_ms(s) for s in tr.spans
                           if s["op"] == top["op"] and s["name"] in parts)
                   / tr.dur_ms(top))
            for top in tops
        ]
        return {
            "sources.extract.busy_ms": tr.p50("sources.extract"),
            "sources.extract.python_ms": py["sources.extract"],
            "sources.extract.ok_ratio": ok / files,
            "operators.sectioning.busy_ms": tr.p50("operators.sectioning"),
            "operators.chunking.busy_ms": tr.p50("operators.chunking"),
            "operators.chunking.python_ms": py["operators.chunking"],
            "operators.chunking.chunks_per_file": self.chunks_per_file,
            "operators.embedding.busy_ms": tr.p50("operators.embedding"),
            "operators.embedding.python_ms": py["operators.embedding"],
            "plans.pipeline.save_index_ms": tr.p50("plans.pipeline.save_index"),
            "plans.pipeline.jobs_per_batch": statistics.median(s[0] for s in stats),
            "plans.pipeline.stages_per_batch": statistics.median(s[1] for s in stats),
            "plans.pipeline.shuffle_bytes": statistics.median(s[2] for s in stats),
            "plans.pipeline.unaccounted_pct": statistics.median(gaps),
        }


# ----------------------------------------------------------------- chat


class Chat(Workload):
    """Returning users open a session over one shared store and converse."""

    name = "chat"
    BASE_DOCS = 2000  # x10 replicas -> ~24k chunks in the index
    USERS = 24
    PRESEED = 150  # turns (files) in the shared store before the run
    TURNS = 32  # per session
    SAMPLE_EVERY = 100  # turns whose hits are re-checked on the Spark path

    def setup(self) -> None:
        corpus = os.path.join(self.tmp, "corpus.parquet")
        gen.write_corpus(gen.replica_corpus(gen.base_texts(self.rng, self.BASE_DOCS)), corpus)
        self.mark("corpus")
        ref = pipeline.save_index(
            pipeline.build_chunks(self.spark.read.parquet(corpus)),
            os.path.join(self.tmp, "index"),
        )
        self.mark("index build")
        self.index = pipeline.load_index(self.spark, ref)
        t = time.perf_counter()
        self.ram = RamServingIndex.from_frame(self.index)
        self.load_s = time.perf_counter() - t
        self.store = os.path.join(self.tmp, "store")
        self.users = [f"user{u:02d}" for u in range(self.USERS)]
        self.mark("index load")
        gen.write_chat_store(self.rng, self.store, self.users, self.PRESEED)
        self.mark("store preseed")
        self.issued = 0
        self.session = None
        self.samples: list[tuple[str, str]] = []
        self.store_files: list[int] = []
        self.jvm_calls: list[int] = []
        for i in range(self.TURNS):  # one whole warm-up session
            self.op(i, None)
        self.next_op = self.TURNS
        self.untraced_groups.clear()
        self.opens.clear()
        self.store_files.clear()

    def traced(self, i: int) -> bool:
        return (i // self.TURNS) % 2 == 1

    def op(self, i: int, tr):
        if i % self.TURNS == 0:
            self.store_files.append(len(visible_files(self.store)))
            # users return round-robin: every session replays the same
            # history depth, so runs differ only in their text
            user = self.users[(i // self.TURNS) % self.USERS]
            self.sc.setJobGroup(f"open-{i}", "chat open")
            t = time.perf_counter()
            if tr is None:
                self.session = chat.ChatSession(
                    self.spark, self.ram, user, history_path=self.store
                )
            else:
                tr.op = i
                with tr.wrapping(
                    (chat, "_load_past", "sources.sinks.load_past"),
                    (sinks, "_next_turn_id", "sources.sinks.next_turn_id"),
                ), tr.span("plans.chat.open"):
                    self.session = chat.ChatSession(
                        self.spark, self.ram, user, history_path=self.store
                    )
            self.opens.append((time.perf_counter() - t) * 1e3)
        q = gen.question(self.rng)
        group = f"op-{i}"
        self.sc.setJobGroup(group, "chat turn")
        calls = self.py4j.calls if self.py4j else 0
        t = time.perf_counter()
        if tr is None:
            turn = self.session.ask(q)
            dt = time.perf_counter() - t
            self.untraced_groups.append(group)
            if self.py4j:
                self.jvm_calls.append(self.py4j.calls - calls)
        else:
            tr.op = i
            with tr.wrapping(
                (chat, "embed_one", "operators.embedding.embed_one"),
                (RamServingIndex, "topk", "operators.serving.topk"),
                (chat, "append_chat_history", "sources.sinks.append"),
            ), tr.span("plans.chat.turn"):
                turn = self.session.ask(q)
            dt = time.perf_counter() - t
        self.issued += 1
        if i % self.SAMPLE_EVERY == 0:
            self.samples.append((q, turn.context))
        return 1, dt

    def check(self) -> None:
        for q, context in self.samples[:2]:
            qv = embed_one(q)
            hits = topk_similar(self.index, qv, k=4).collect()
            require(
                "\n".join(r.text for r in hits) == context,
                f"turn context differs from topk_similar for {q!r}",
            )
            require(
                [h.chunk_id for h in self.ram.topk(qv, k=4)]
                == [r.chunk_id for r in hits],
                f"RAM hits differ from topk_similar for {q!r}",
            )
        ids = sorted(
            pads.dataset(self.store, format="parquet")
            .to_table(columns=["turn_id"]).column("turn_id").to_pylist()
        )
        require(
            len(ids) == self.PRESEED + self.issued,
            f"store holds {len(ids)} rows, expected {self.PRESEED + self.issued}",
        )
        require(ids == list(range(len(ids))), "turn_ids are not contiguous")

    def layers(self, tr) -> dict:
        opens = tr.named("plans.chat.open")
        tracker = self.sc.statusTracker()
        jobs = [len(tracker.getJobIdsForGroup(g)) for g in self.untraced_groups]
        return {
            "operators.embedding.embed_one_us": 1e3 * tr.p50("operators.embedding.embed_one"),
            "operators.serving.topk_ms": tr.p50("operators.serving.topk"),
            "operators.serving.load_s": self.load_s,
            "sources.sinks.append_ms": tr.p50("sources.sinks.append"),
            "sources.sinks.open_read_ms": statistics.median(o["child_s"] * 1e3 for o in opens),
            "sources.sinks.store_files": statistics.median(self.store_files),
            "plans.chat.self_ms": tr.p50("plans.chat.turn", self_time=True),
            "plans.chat.jobs_per_turn": statistics.mean(jobs),
            "plans.chat.jvm_calls_per_turn": statistics.median(self.jvm_calls),
        }


# ---------------------------------------------------------------- dedup


class Dedup(Workload):
    """A curator clusters near-duplicates and opens clusters to review."""

    name = "dedup"
    BASE_DOCS = 300  # x10 replicas -> 3k documents a pass
    OPENS = 5  # clusters opened after each pass
    LSH = dict(num_perm=32, bands=8, threshold=0.3)

    def setup(self) -> None:
        corpus = os.path.join(self.tmp, "corpus.parquet")
        self.text = gen.replica_corpus(gen.base_texts(self.rng, self.BASE_DOCS))
        self.n_docs = len(self.text)
        gen.write_corpus(self.text, corpus)
        self.mark("corpus")
        self.docs = self.spark.read.parquet(corpus)
        self._reference()
        self.mark("reference pass")
        self.counts: list[int] = []
        self.opened: list[tuple[int, set[int]]] = []
        self.cc_groups: list[str] = []
        self.next_op = 0

    def _pass(self, group: str):
        self.sc.setJobGroup(group, "dedup pass")
        labels = dedup.connected_components(dedup.lsh_verified_pairs(self.docs, **self.LSH))
        return labels, labels.select("cluster_id").distinct().count()

    def _reference(self) -> None:
        """A full-size warm-up pass whose verified pairs are collected and
        checked in Python: exact Jaccard on a sample, and union-find
        components as the expected clustering."""
        self.sc.setJobGroup("reference", "dedup reference pass")
        pairs = dedup.lsh_verified_pairs(self.docs, **self.LSH).collect()
        require(len(pairs) > 0, "no verified pairs")
        for p in random.Random(0).sample(pairs, min(200, len(pairs))):
            a, b = self._shingles(p.doc_a), self._shingles(p.doc_b)
            common = len(a & b)
            jac = common / (len(a) + len(b) - common)
            require(p.n_common == common and p.jaccard == jac, f"pair {p} differs: {jac}")
            require(jac >= self.LSH["threshold"], f"pair {p} below threshold")
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for p in pairs:
            parent[find(p.doc_a)] = find(p.doc_b)
        comp: dict[int, set[int]] = {}
        for x in list(parent):
            comp.setdefault(find(x), set()).add(x)
        self.component = {x: members for members in comp.values() for x in members}
        self.n_components = len(comp)
        self.nodes = sorted(self.component)

    def _shingles(self, doc_id: int) -> set[str]:
        w = self.text[doc_id].split(" ")
        return {" ".join(w[i : i + 2]) for i in range(len(w) - 1)}

    def op(self, i: int, tr):
        group = f"op-{i}"
        t = time.perf_counter()
        if tr is None:
            labels, n = self._pass(group)
            self.untraced_groups.append(group)
        else:
            labels, n = self._traced_pass(i, tr)
        dt = time.perf_counter() - t
        self.counts.append(n)
        # the curator opens clusters: one document's near-duplicates
        self.sc.setJobGroup(f"open-{i}", "dedup open")
        for x in self.rng.sample(self.nodes, self.OPENS):
            t = time.perf_counter()
            members = labels.join(
                labels.where(F.col("doc_id") == x).select("cluster_id"), "cluster_id"
            ).collect()
            self.opens.append((time.perf_counter() - t) * 1e3)
            self.opened.append((x, {r.doc_id for r in members}))
        return self.n_docs, dt

    def _traced_pass(self, i, tr):
        tr.op = i
        self.sc.setJobGroup(f"op-{i}", "dedup pass")
        with tr.wrapping(
            (dedup, "minhash_signatures", "operators.dedup.signatures", materialize),
            (dedup, "lsh_candidate_pairs", "operators.dedup.candidates", materialize),
            (dedup, "_verify_jaccard", "operators.dedup.verify", materialize),
        ), tr.span("operators.dedup.pass"):
            pairs = dedup.lsh_verified_pairs(self.docs, **self.LSH)
            self.sc.setJobGroup(f"cc-{i}", "dedup connected components")
            with tr.span("operators.dedup.cc"):
                labels = dedup.connected_components(pairs)
            self.cc_groups.append(f"cc-{i}")
            self.sc.setJobGroup(f"op-{i}", "dedup pass")
            n = labels.select("cluster_id").distinct().count()
        return labels, n

    def check(self) -> None:
        require(
            all(n == self.n_components for n in self.counts),
            f"component counts {self.counts} != {self.n_components}",
        )
        for x, members in self.opened:
            require(members == self.component[x], f"cluster of {x} differs")

    def layers(self, tr) -> dict:
        cands = [s["out"].count() for s in tr.named("operators.dedup.candidates")]
        verified = [s["out"].count() for s in tr.named("operators.dedup.verify")]
        cc_jobs = [len(self.sc.statusTracker().getJobIdsForGroup(g)) for g in self.cc_groups]
        stats = [job_stats(self.sc, g) for g in self.untraced_groups]
        return {
            "operators.dedup.signatures_ms": tr.p50("operators.dedup.signatures"),
            "operators.dedup.candidates": statistics.median(cands),
            "operators.dedup.verified": statistics.median(verified),
            "operators.dedup.verify_yield": sum(verified) / sum(cands),
            "operators.dedup.verify_ms": tr.p50("operators.dedup.verify"),
            "operators.dedup.cc_ms": tr.p50("operators.dedup.cc"),
            "operators.dedup.cc_jobs": statistics.median(cc_jobs),
            "operators.dedup.jobs_per_pass": statistics.median(s[0] for s in stats),
            "operators.dedup.stages_per_pass": statistics.median(s[1] for s in stats),
            "operators.dedup.shuffle_bytes": statistics.median(s[2] for s in stats),
        }


WORKLOADS = {w.name: w for w in (Ingest, Chat, Dedup)}
