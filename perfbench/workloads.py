"""The timed jobs and their correctness gates.

Every job runs under a Spark job group ``<tag>|<phase>`` so that the
event log (traced runs) can be split by rep and phase offline.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

CURATION_QUERIES = ("dedup_groups_simhash", "curation_funnel", "quality_vote_prose")


@dataclass
class Rep:
    """One closed-loop job: its timed phases and what its gates saw."""

    tag: str
    rows: int
    phase_s: dict[str, float]
    items_us: list[float]
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    extract_us_total: int = 0
    scan_nodes: dict[str, int] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(self.phase_s.values())


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


class Extraction:
    """``run_extraction`` (read → extract → write → read-back →
    manifest) into a fresh dir, then ``assemble_conversations``
    written beside it."""

    def __init__(self, corpus_dir: str, work: str, golden_is_payload: bool):
        self.input = os.path.join(corpus_dir, "transcripts.parquet")
        self.golden = os.path.join(corpus_dir, "golden.parquet")
        self.rep_root = os.path.join(work, "reps")
        self.golden_is_payload = golden_is_payload

    def load(self) -> None:
        """Expected per-turn and per-conversation text hashes."""
        import pyarrow.parquet as pq

        if self.golden_is_payload:
            t = pq.read_table(self.input, columns=["conv_id", "turn_idx", "text"])
            t = t.rename_columns(["conv_id", "turn_idx", "expected_text"])
        else:
            t = pq.read_table(self.golden)
        conv, idx, text = (t.column(c).to_pylist() for c in t.column_names)
        self.n_turns = len(conv)
        self.turn_sha = {(c, i): _sha(x) for c, i, x in zip(conv, idx, text)}
        by_conv: dict[str, list[tuple[int, str]]] = {}
        for c, i, x in zip(conv, idx, text):
            by_conv.setdefault(c, []).append((i, x))
        self.conv_sha = {
            c: (len(v), _sha("\n".join(x for _, x in sorted(v))))
            for c, v in by_conv.items()
        }

    def run(self, spark, tag: str, trace: bool = False) -> Rep:
        from pyspark.sql import functions as F

        from pdftotext_spark.plans.pipeline import (
            assemble_conversations,
            run_extraction,
        )

        d = os.path.join(self.rep_root, tag)
        shutil.rmtree(d, ignore_errors=True)
        sc = spark.sparkContext
        sc.setJobGroup(f"{tag}|extract", "extract")
        t0 = time.perf_counter()
        out = run_extraction(
            spark, self.input, os.path.join(d, "out"), os.path.join(d, "manifest"),
            run_id=tag,
        )
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}|assemble", "assemble")
        assemble_conversations(out).write.parquet(os.path.join(d, "conv"))
        t2 = time.perf_counter()

        sc.setJobGroup(f"{tag}|verify", "verify")
        got = (
            out.select(
                "conv_id", "turn_idx", F.sha2("extracted_text", 256).alias("h"),
                "extract_us", "decode_failures",
            ).toPandas()
        )
        parsed = (
            spark.read.parquet(os.path.join(d, "manifest"))
            .agg(F.sum("turns_parsed"))
            .first()[0]
        )
        convs = (
            spark.read.parquet(os.path.join(d, "conv"))
            .select("conv_id", "n_turns", F.sha2("conversation_text", 256).alias("h"))
            .toPandas()
        )
        shutil.rmtree(d)

        rep = Rep(
            tag, self.n_turns, {"extract": t1 - t0, "assemble": t2 - t1},
            got["extract_us"].astype(float).tolist(),
        )
        rep.extract_us_total = int(got["extract_us"].sum())
        seen = {
            (c, int(i)): (h, f)
            for c, i, h, f in zip(
                got["conv_id"], got["turn_idx"], got["h"], got["decode_failures"]
            )
        }
        wrong = {k for k, h in self.turn_sha.items() if seen.get(k, (None,))[0] != h}
        wrong |= seen.keys() - self.turn_sha.keys()
        rep.failed = len(wrong | {k for k, (_, f) in seen.items() if f > 0})
        if parsed != self.n_turns:
            rep.errors.append(f"{tag}: manifest turns_parsed {parsed} != {self.n_turns}")
        conv_seen = {
            c: (int(n), h) for c, n, h in zip(convs["conv_id"], convs["n_turns"], convs["h"])
        }
        if conv_seen != self.conv_sha:
            bad = sum(conv_seen.get(c) != v for c, v in self.conv_sha.items())
            rep.errors.append(f"{tag}: {bad} assembled conversations differ from golden")
        if wrong or len(got) != self.n_turns:
            rep.errors.append(
                f"{tag}: {len(wrong)} turns differ from golden, "
                f"{len(got)} rows for {self.n_turns} turns"
            )
        return rep

    def replay(self, per_kind: int = 400) -> dict[str, float]:
        """Single-process ``extract_payload`` over the first
        ``per_kind`` payloads of each kind; best of two passes."""
        import pyarrow.parquet as pq

        from pdftotext_spark.core.dispatch import extract_payload

        t = pq.read_table(self.input, columns=["tool", "text"])
        kinds = t.column("tool").to_pylist()
        picked: dict[str, list[str]] = {}
        for kind, text in zip(kinds, t.column("text").to_pylist()):
            lst = picked.setdefault(kind, [])
            if len(lst) < per_kind:
                lst.append(text or "")
        us: dict[str, float] = {}
        for kind, texts in picked.items():
            best = math.inf
            for _ in range(2):
                t0 = time.perf_counter_ns()
                for x in texts:
                    extract_payload(x)
                best = min(best, (time.perf_counter_ns() - t0) / 1e3)
            us[kind] = best / len(texts)
        counts = Counter(kinds)
        corpus_us = sum(counts[k] * us[k] for k in us)
        sample_kb = sum(len(x.encode("utf-8")) for v in picked.values() for x in v) / 1024
        sample_us = sum(us[k] * len(v) for k, v in picked.items())
        return {
            "core.pdf_us_per_turn": us.get("pdf-ascii", 0.0),
            "core.pdf_b64_us_per_turn": us.get("pdf-b64", 0.0),
            "html.us_per_turn": us.get("html", 0.0),
            "core.plain_us_per_turn": us.get("plain", 0.0),
            "core.us_per_kb": sample_us / sample_kb,
            "core.replay_rows_per_s": len(kinds) / (corpus_us / 1e6),
        }


class Curation:
    """The curation queries back to back over the seeded ``documents``
    table, each checked against its DuckDB ``oracle_sql()`` with the
    oracle parity tests' own canonicalisation."""

    def __init__(self, corpus_dir: str, cache_dir: str):
        self.sf_dir = corpus_dir
        self.cache_dir = cache_dir
        self.n_docs = 0

    def load(self) -> None:
        """The oracle's expected rows. They depend only on the table's
        rows and the oracle SQL, not on the seed's row order and file
        split, so they are cached under a hash of both."""
        import duckdb

        import __spark_entry__ as entry
        from tests.test_oracle_parity import _rows as canonical_rows

        self.queries = {q: entry.queries()[q] for q in CURATION_QUERIES}
        sqls = [entry.oracle_sql()[q] for q in CURATION_QUERIES]
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{self.sf_dir}/documents.parquet/*.parquet')"
            )
            table = con.execute("SELECT * FROM documents ORDER BY doc_id").fetchall()
            self.n_docs = len(table)
            key = hashlib.sha256(repr((sqls, table)).encode("utf-8")).hexdigest()[:16]
            cached = os.path.join(self.cache_dir, f"oracle-{key}.json")
            if os.path.exists(cached):
                with open(cached) as f:
                    self.expected = {
                        q: (cols, [tuple(r) for r in rows])
                        for q, (cols, rows) in json.load(f).items()
                    }
            else:
                self.expected = {}
                for q, sql in zip(CURATION_QUERIES, sqls):
                    cur = con.execute(sql)
                    cols = [d[0].lower() for d in cur.description]
                    self.expected[q] = (sorted(cols), canonical_rows(cols, cur.fetchall()))
                with open(cached + ".tmp", "w") as f:
                    json.dump(self.expected, f)
                os.replace(cached + ".tmp", cached)
        finally:
            con.close()
        empty = [q for q, (_, rows) in self.expected.items() if not rows]
        if empty:
            raise RuntimeError(f"oracle returned no rows for {empty}")

    def run(self, spark, tag: str, trace: bool = False) -> Rep:
        from tests.test_oracle_parity import _rows as canonical_rows

        sc = spark.sparkContext
        rep = Rep(tag, self.n_docs * len(CURATION_QUERIES), {}, [])
        for q in CURATION_QUERIES:
            sc.setJobGroup(f"{tag}|{q}", q)
            t0 = time.perf_counter()
            df = self.queries[q](spark, self.sf_dir)
            if trace:
                plan = df._jdf.queryExecution().executedPlan().toString()
                rep.scan_nodes[q] = plan.count("FileScan")
            rows = df.collect()
            rep.phase_s[q] = time.perf_counter() - t0
            cols = [c.lower() for c in df.columns]
            if (sorted(cols), canonical_rows(cols, [tuple(r) for r in rows])) != self.expected[q]:
                rep.failed += 1
                rep.errors.append(f"{tag}: {q} differs from its DuckDB oracle")
        # an item is one query: every pass adds one of each, so the
        # mix behind the percentiles does not depend on the pass count
        rep.items_us.extend(t * 1e6 for t in rep.phase_s.values())
        return rep
