"""Seeded inputs for the three workloads, cached under the work dir.

Each corpus lives in ``<work>/corpus/<workload>-s<seed>-<size>/`` with
a ``meta.json`` sidecar that records its cold generation time. Only
the most recent corpus of a workload is kept: the long-text corpus is
tens of MB, and a run over many seeds would otherwise fill the disk.

- ``extract_mixed``: :func:`transcripts_gen.write_parquet` with the
  default payload mix and one mega-conversation of ``N/10`` turns; the
  generator's golden sidecar is the expected text.
- ``extract_longtext``: plain turns whose lengths cycle 300 B / 3 KB /
  20 KB; plain extraction is the identity, so the payload is the
  expected text.
- ``curate_docs``: a 500-doc ``documents`` table with the schema and
  the statistics of the sf0.01 and sf0.1 test tables (see
  :func:`_write_documents`). Its content is fixed; the seed sets the
  row order and which of the four part files each row lands in. The
  seed so changes partition contents but not the answer, and not how
  many connected-components rounds the dedup query needs.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from datetime import datetime, timedelta, timezone

MIXED_TURNS = 26_000
LONG_TURNS = 6_000
LONG_LENGTHS = (300, 3_000, 20_000)
DOCS = 500
DOCS_CONTENT_SEED = 20260101
DOCS_FILES = 4

TRANSCRIPT_SCHEMA = [
    ("conv_id", "string"),
    ("turn_idx", "int32"),
    ("role", "string"),
    ("text", "string"),
    ("tool", "string"),
    ("ts", "timestamp"),
]

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANG_WEIGHTS = {"en": 41, "zh": 15, "es": 15, "fr": 15, "de": 14}


def ensure(work: str, workload: str, seed: int) -> tuple[str, float]:
    """Return ``(corpus_dir, cold_generation_seconds)`` for this seed,
    generating it first if it is not cached."""
    size = {"extract_mixed": MIXED_TURNS, "extract_longtext": LONG_TURNS,
            "curate_docs": DOCS}[workload]
    root = os.path.join(work, "corpus")
    d = os.path.join(root, f"{workload}-s{seed}-{size}")
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)["gen_s"]
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(root, old))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    if workload == "extract_mixed":
        from pdftotext_spark.sources.transcripts_gen import write_parquet

        write_parquet(tmp, size, seed=seed, skew_conv_turns=size // 10)
    elif workload == "extract_longtext":
        _write_longtext(tmp, size, seed)
    else:
        _write_documents(tmp, size, seed)
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"gen_s": gen_s, "seed": seed, "size": size}, f)
    os.rename(tmp, d)
    return d, gen_s


def _word_text(rng: random.Random, n_chars: int, words: list[str]) -> str:
    out: list[str] = []
    total = -1
    while total < n_chars:
        w = rng.choice(words)
        out.append(w)
        total += len(w) + 1
    return " ".join(out)[:n_chars].rstrip()


def _write_longtext(out_dir: str, n_turns: int, seed: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    # a pool of pre-built texts sliced at random word offsets keeps
    # generation fast; a per-turn tag keeps every payload distinct
    words = [f"{w}{i}" for i, w in enumerate(_DOC_WORDS * 4)]
    pool = _word_text(rng, 4 * max(LONG_LENGTHS), words)
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = {k: [] for k, _ in TRANSCRIPT_SCHEMA}
    conv, turn_idx, conv_left = -1, 0, 0
    for i in range(n_turns):
        if conv_left == 0:
            conv, turn_idx, conv_left = conv + 1, 0, rng.randint(1, 40)
        n = LONG_LENGTHS[i % len(LONG_LENGTHS)]
        start = pool.index(" ", rng.randrange(len(pool) - n - 64)) + 1
        tag = f"turn {conv}.{turn_idx} "
        text = (tag + pool[start : start + n - len(tag)]).rstrip()
        rows["conv_id"].append(f"long-{conv:07d}")
        rows["turn_idx"].append(turn_idx)
        rows["role"].append(("user", "assistant", "tool")[turn_idx % 3])
        rows["text"].append(text)
        rows["tool"].append("plain")
        rows["ts"].append(t0 + timedelta(seconds=i))
        turn_idx += 1
        conv_left -= 1
    schema = pa.schema(
        [
            (k, pa.timestamp("us", tz="UTC") if t == "timestamp" else getattr(pa, t)())
            for k, t in TRANSCRIPT_SCHEMA
        ]
    )
    pq.write_table(
        pa.Table.from_pydict(rows, schema=schema),
        os.path.join(out_dir, "transcripts.parquet"),
        row_group_size=1024,
    )


def _write_documents(out_dir: str, n_docs: int, seed: int) -> None:
    """The sf ``documents`` test table as measured on sf0.01 (500 docs)
    and sf0.1 (5,000): 10–99 words, uniform, from the 30-word
    vocabulary above; 5 % of docs are another doc's text plus `` dup``
    (a copy may be of a copy, or of a doc that was itself replaced);
    ``lang`` en 41 %, zh/es/fr/de about 15 % each; ``source`` is
    ``src<doc_id % 20>``; ``n_chars`` is the text length."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(DOCS_CONTENT_SEED)
    langs = rng.choices(list(_LANG_WEIGHTS), weights=list(_LANG_WEIGHTS.values()), k=n_docs)
    texts = [
        " ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), n_docs // 20):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    order = list(range(n_docs))
    random.Random(seed).shuffle(order)
    d = os.path.join(out_dir, "documents.parquet")
    os.makedirs(d)
    for k in range(DOCS_FILES):
        ids = order[k::DOCS_FILES]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array([texts[i] for i in ids], pa.string()),
                    "lang": pa.array([langs[i] for i in ids], pa.string()),
                    "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
                    "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
                }
            ),
            os.path.join(d, f"part-{k}.parquet"),
        )
