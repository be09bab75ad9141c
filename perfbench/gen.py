"""Seeded input generator for the benchmark.

Everything the engine sees is made here from ``--seed`` and written under
the run's own temporary directory: upload files (txt, html and pdf), the
10x near-duplicate replica corpus, and the preseeded chat-history store.
Nothing is cached across runs, so every run pays the same set-up.

The documents mimic the engine's ``documents`` fixture (a 31-word
vocabulary, 10 to 100 words a document), so they chunk and deduplicate
like fixture documents without reading files outside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Shared enterprise headings: upload files reuse them, so the index's
# partitionBy("section") layout has a bounded number of directories.
HEADINGS = [
    "INTRODUCTION", "SCOPE AND PURPOSE", "DATA SOURCES", "RETENTION POLICY",
    "ACCESS CONTROL", "VACATION POLICY", "PAYROLL CALENDAR", "TRAVEL RULES",
    "SECURITY REVIEW", "QUARTERLY RESULTS", "OPEN QUESTIONS", "GLOSSARY",
]

REPLICAS = 10  # near-duplicate replicas per base document


def words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def base_texts(rng: random.Random, n: int) -> list[str]:
    """Fixture-like documents: no newlines, no titles, 10-100 words."""
    return [words(rng, 10, 100) for _ in range(n)]


def replica_corpus(texts: list[str]) -> dict[int, str]:
    """Each base document replicated ``REPLICAS`` times with a per-replica
    suffix, so every replica family is a true near-duplicate cluster."""
    return {
        base * REPLICAS + r: f"{text} replica marker "
        + hashlib.md5(f"{base}:{r}".encode()).hexdigest()
        for base, text in enumerate(texts)
        for r in range(REPLICAS)
    }


def write_corpus(docs: dict[int, str], path: str) -> None:
    """(doc_id, text) parquet, the shape of the engine's documents."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(list(docs), pa.int64()),
                "text": pa.array(list(docs.values()), pa.string()),
            }
        ),
        path,
    )


def paragraph(rng: random.Random) -> str:
    """2-8 sentences of 4-14 words: some paragraphs pass the 500-char
    chunk size, so the splitter's '.' and ' ' levels do work."""
    return " ".join(
        words(rng, 4, 14).capitalize() + "." for _ in range(rng.randint(2, 8))
    )


def upload_text(rng: random.Random) -> str:
    """2-5 titled sections of 2-6 paragraphs, joined by blank lines."""
    parts: list[str] = []
    for title in rng.sample(HEADINGS, rng.randint(2, 5)):
        parts.append(title)
        parts.extend(paragraph(rng) for _ in range(rng.randint(2, 6)))
    return "\n\n".join(parts)


def _pdf_escape(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def pdf_bytes(text: str) -> bytes:
    """One-page PDF with a Flate content stream. Paragraphs are shown with
    the ``'`` operator after an empty ``'`` line, which the extractor turns
    into the blank line between paragraphs."""
    ops = [b"BT /F1 11 Tf 72 760 Td 14 TL"]
    for i, para in enumerate(text.split("\n\n")):
        if i:
            ops.append(b"() '")
            ops.append(b"(" + _pdf_escape(para) + b") '")
        else:
            ops.append(b"(" + _pdf_escape(para) + b") Tj")
    ops.append(b"ET")
    payload = zlib.compress(b"\n".join(ops))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(payload)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + payload + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    header = b"%PDF-1.4\n"
    body, offsets, pos = b"", [], len(header)
    for i, o in enumerate(objs, start=1):
        obj = f"{i} 0 obj\n".encode() + o + b"\nendobj\n"
        offsets.append(pos)
        body += obj
        pos += len(obj)
    xref = (
        f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
        + b"".join(f"{off:010d} 00000 n \n".encode() for off in offsets)
    )
    trailer = (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{pos}\n%%EOF\n"
    ).encode()
    return header + body + xref + trailer


def html_bytes(text: str) -> bytes:
    blocks = []
    for para in text.split("\n\n"):
        tag = "h2" if para.isupper() else "p"
        blocks.append(f"<{tag}>{para}</{tag}>")
    return (
        "<!DOCTYPE html><html><head><style>p { margin: 0 }</style>"
        "</head><body>\n" + "\n".join(blocks) + "\n</body></html>"
    ).encode()


# 2/5 txt, 2/5 html, 1/5 pdf
KINDS = ("txt", "txt", "html", "html", "pdf")


def write_upload_batch(
    rng: random.Random, path: str, n_files: int, first_id: int
) -> dict[int, tuple[str, str]]:
    """Write ``n_files`` upload files named ``<doc_id>.<ext>``; returns
    {doc_id: (kind, source text)} for the correctness check."""
    os.makedirs(path)
    kinds = [KINDS[i % len(KINDS)] for i in range(n_files)]
    rng.shuffle(kinds)
    out = {}
    for i, kind in enumerate(kinds):
        doc_id = first_id + i
        text = upload_text(rng)
        if kind == "pdf":
            data = pdf_bytes(text)
        elif kind == "html":
            data = html_bytes(text)
        else:
            data = text.encode()
        with open(os.path.join(path, f"{doc_id:08d}.{kind}"), "wb") as fh:
            fh.write(data)
        out[doc_id] = (kind, text)
    return out


def question(rng: random.Random) -> str:
    return words(rng, 4, 8)


def write_chat_store(
    rng: random.Random, path: str, users: list[str], depth: int
) -> None:
    """Preseed the shared chat store with ``depth`` turns, one parquet file
    per turn (the layout per-turn appends leave), turn_ids 0..depth-1 in
    timestamp order, users taking turns round-robin so every user has the
    same history depth."""
    from datetime import datetime, timedelta, timezone

    os.makedirs(path)
    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    for turn in range(depth):
        msg, resp = question(rng), words(rng, 8, 30) + "."
        table = pa.table(
            {
                "user": pa.array([users[turn % len(users)]], pa.string()),
                "message": pa.array([msg], pa.string()),
                "response": pa.array([resp], pa.string()),
                "ts": pa.array(
                    [t0 + timedelta(seconds=turn)], pa.timestamp("us", tz="UTC")
                ),
                "prompt_tokens": pa.array(
                    [len(msg.split()) + 40], pa.int64()
                ),
                "completion_tokens": pa.array(
                    [len(resp.split())], pa.int64()
                ),
                "turn_id": pa.array([turn], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{turn:06d}.parquet"))
