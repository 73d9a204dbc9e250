"""Seeded inputs for the benchmark and their expected outputs.

Pipeline inputs are in the layout of `write_scaled_fixture` (part files of
lines sampled from a 20k-line pool) with `BENCH_CONFIG_YAML`. Each input
directory is written once per (rows, seed) under the benchmark cache and
holds, beside the files the program reads, `expected.json`: what
`tests/oracle.py` (`analyse_corpus`) says every sink must contain, reduced
to the same order-independent digests `checks.py` computes on the Spark
side. The oracle runs once per input; later runs with the same seed reuse it.

Operator inputs are small `documents` / `embeddings` / `events` tables with
the column layout of the testdata scale-factor tables, generated from the
seed with planted near-duplicates so the dedup and ANN leaves find pairs.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil

POOL_ROWS = 20_000
POOL_SEED = 3  # the line pool of bench.py's pipeline fixture

# row sink -> every column it has, in the order its digest joins them; the
# grouped_routed sink also has one g_<Name> column per named capture group
ROW_SINKS = {
    "specific_issues": ("source", "process", "doc_id", "line_no", "tokens", "n_tok", "text"),
    "other_routed": (
        "source", "issue", "process", "proc_rank", "doc_id", "line_no", "tokens", "text",
        "match_pos", "match",
    ),
    "grouped_routed": (
        "source", "issue", "process", "proc_rank", "doc_id", "line_no", "tokens", "text",
        "group_key", "details",
    ),
    "events": ("source", "line_no", "event", "doc_id", "tokens", "text"),
    "severity": ("source", "doc_id", "line_no", "level", "n_matches"),
}
NULL = "\\N"  # how a null column value enters a row digest


def named_groups(cfg) -> dict[str, dict[str, int]]:
    """g_<Name> column -> {grouped issue: capture-group index} (routing.grouped_routed)."""
    out: dict[str, dict[str, int]] = {}
    for iname in sorted(cfg.issues):
        spec = cfg.issues[iname]
        if spec.grouped:
            for gi, nm in enumerate(spec.group_names()):
                if gi and nm:
                    out.setdefault(f"g_{nm}", {})[iname] = gi
    return out


def sink_columns(cfg) -> dict[str, tuple[str, ...]]:
    cols = dict(ROW_SINKS)
    cols["grouped_routed"] += tuple(sorted(named_groups(cfg)))
    return cols


DETAILS_SEP = "\x1f"


def row_hash(parts: list[str]) -> int:
    """40-bit md5 prefix of the '|'-joined row: a sum of up to 2^23 of these
    fits a signed 64-bit Spark sum."""
    return int(hashlib.md5("|".join(parts).encode()).hexdigest()[:10], 16)


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def pipeline_input(cache: str, rows: int, seed: int) -> str:
    """Directory with logs.parquet, vocab.json, bench_config.yaml and
    expected.json for `rows` log lines drawn with `seed`."""
    from radar_log_parser_spark.sources.fixtures import BENCH_CONFIG_YAML

    final = os.path.join(cache, "inputs", f"logs-{rows}-s{seed}")
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_logs(tmp, rows, seed)
    with open(os.path.join(tmp, "bench_config.yaml"), "w") as f:
        f.write(BENCH_CONFIG_YAML)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected_outputs(tmp), f)
    os.rename(tmp, final)
    return final


def _write_logs(out: str, rows: int, seed: int) -> None:
    """`write_scaled_fixture`'s layout (vocab.json + logs.parquet part files,
    lines sampled from a generated pool) with the pool fixed and only the
    sampling drawn from `seed`: that function derives both from one seed,
    and a pool of another seed shifts the mix of line kinds enough to move
    a pass's wall by up to 25%."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.sources.fixtures import (
        ARROW_SCHEMA,
        doc_id,
        generate_corpus,
    )

    os.makedirs(os.path.join(out, "logs.parquet"))
    corpus = generate_corpus(n_rows=POOL_ROWS, seed=POOL_SEED)
    n_pool = sum(len(v) for v in corpus.values())
    vocab = Vocab.build([ln for lines in corpus.values() for ln in lines])
    vocab.save(os.path.join(out, "vocab.json"))
    rng = np.random.default_rng(seed)
    chunk_rows = max(8192, rows // 256)
    part = 0
    for source in sorted(corpus):
        pool = [vocab.encode(t) for t in corpus[source]]
        share = round(rows * len(pool) / n_pool)
        for lo in range(0, share, chunk_rows):
            idx = rng.integers(0, len(pool), size=min(chunk_rows, share - lo))
            toks = [pool[i] for i in idx]
            pq.write_table(pa.Table.from_arrays([
                pa.array([doc_id(source, lo + k) for k in range(len(idx))], pa.string()),
                pa.array(toks, pa.list_(pa.int32())),
                pa.array([len(t) for t in toks], pa.int32()),
                pa.array([source] * len(idx), pa.string()),
            ], schema=ARROW_SCHEMA), os.path.join(out, "logs.parquet", f"part-{part:05d}.parquet"),
                compression="snappy")
            part += 1


def _corpus(d: str):
    """source -> lines in line order, and (source, line_no) -> token ids."""
    import pyarrow.parquet as pq

    from radar_log_parser_spark.codec import Vocab

    inv = Vocab.load(os.path.join(d, "vocab.json")).id_to_token
    t = pq.read_table(os.path.join(d, "logs.parquet")).to_pydict()
    keyed = sorted(
        (src, int(did.rsplit("-", 1)[1]), toks)
        for did, toks, src in zip(t["doc_id"], t["tokens"], t["source"])
    )
    corpus: dict[str, list[str]] = {}
    tokens: dict[tuple[str, int], list[int]] = {}
    for src, ln, toks in keyed:
        lines = corpus.setdefault(src, [])
        assert ln == len(lines), f"line numbers of {src} are not contiguous"
        lines.append(" ".join(inv[i] for i in toks))
        tokens[(src, ln)] = toks
    return corpus, tokens


def expected_outputs(d: str) -> dict:
    """The oracle's answer for input dir `d`, as digests per row sink plus
    the (small) summary and grouped_issues tables."""
    from radar_log_parser_spark.config import load_config
    from radar_log_parser_spark.sources.fixtures import doc_id
    from tests.oracle import analyse_corpus

    cfg = load_config(os.path.join(d, "bench_config.yaml"))
    corpus, tokens = _corpus(d)
    golden = analyse_corpus(corpus, cfg)
    rows: dict[str, list[list[str]]] = {name: [] for name in ROW_SINKS}
    groups = named_groups(cfg)

    def rank(iname: str, proc: str) -> str:
        return str(sorted(cfg.issues[iname].specific_process).index(proc))

    def line(src: str, ln: int) -> list[str]:
        """doc_id, line_no, tokens, text of a line"""
        return [doc_id(src, ln), str(ln), ",".join(map(str, tokens[(src, ln)])), corpus[src][ln]]

    grouped_issues = []
    for src, g in golden.items():
        for proc, lns in g["specific_issues"].items():
            for ln in lns:
                did, lno, tk, text = line(src, ln)
                n_tok = str(len(tokens[(src, ln)]))
                rows["specific_issues"].append([src, proc, did, lno, tk, n_tok, text])
        for iname, ov in g["other_issues"].items():
            # the oracle lists a line's matches in scan order: match_pos
            # counts them per (process, line)
            pos: dict[tuple[str, int], int] = {}
            for proc, ln, m in ov["rows"]:
                k = pos[(proc, ln)] = pos.get((proc, ln), -1) + 1
                rows["other_routed"].append(
                    [src, iname, proc, rank(iname, proc), *line(src, ln), str(k), m]
                )
        # the oracle reports grouped issues as tuple counts; the routed rows
        # behind them are the issue's kept-process lines whose first grouping
        # match has >= 2 groups (oracle.analyse, F4) — rebuilt here from the
        # oracle's own keep-set and cross-checked against its counts
        for iname, gv in g["grouped_issues"].items():
            issue = cfg.issues[iname]
            rgx = re.compile(issue.grouping, re.ASCII)
            derived: dict[tuple, int] = {}
            for proc in sorted(issue.specific_process):
                for ln in g["specific_issues"].get(proc, []):
                    m = rgx.search(corpus[src][ln])
                    if m is None or rgx.groups < 2:
                        continue
                    key = m.group(1) or ""
                    details = [x or "" for x in m.groups()[1:]]
                    named = [
                        (m.group(by[iname]) or "") if iname in by else NULL
                        for _col, by in sorted(groups.items())
                    ]
                    rows["grouped_routed"].append([
                        src, iname, proc, rank(iname, proc), *line(src, ln), key,
                        DETAILS_SEP.join(details), *named,
                    ])
                    derived[(key, tuple(details))] = derived.get((key, tuple(details)), 0) + 1
            counted = {
                (k, tuple(det)): c for k, lst in gv["groups"].items() for det, c in lst
            }
            assert derived == counted, f"grouped rows of {src}/{iname} disagree with the oracle"
            grouped_issues += [[src, iname, k, list(det), c] for (k, det), c in counted.items()]
        for ln, ev in g["events"]:
            did, lno, tk, text = line(src, ln)
            rows["events"].append([src, lno, ev, did, tk, text])
        for level, hits in g["severity"].items():
            for ln, n in hits:
                rows["severity"].append([src, doc_id(src, ln), str(ln), level, str(n)])

    summary = []
    for src in sorted(golden):
        s = golden[src]["summary"]
        for iname in s["ordered_issues"]:
            imap = s["issues"][iname]
            fields = {
                k: md5_hex(v) for k, v in imap.items()
                if k not in ("Number", "Timestamp", "LogLevel")
            }
            summary.append([
                src, iname, s["priority"][iname], int(imap["Number"]),
                imap.get("Timestamp", ""), imap.get("LogLevel", ""), fields,
            ])
    first = min(rows["specific_issues"], key=lambda r: r[2])
    return {
        "input_rows": sum(len(v) for v in corpus.values()),
        "digests": {
            name: [len(rs), sum(row_hash(r) for r in rs)] for name, rs in rows.items()
        },
        "summary": summary,
        "grouped_issues": sorted(grouped_issues),
        # the doc_id the self-test corrupts in the specific_issues sink
        "victim": first[2],
    }


WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def operator_input(cache: str, seed: int, n_docs: int = 500, n_vecs: int = 500,
                   n_events: int = 10_000) -> str:
    """documents/embeddings/events parquet tables for the operator leaves."""
    import datetime

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(cache, "inputs", f"ops-{n_docs}-s{seed}")
    if os.path.exists(os.path.join(final, "_COMPLETE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = random.Random(seed)

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.06:
            # planted near-duplicate: an earlier doc with a few words swapped
            ws = texts[rng.randrange(i)].split(" ")
            for _ in range(max(1, len(ws) // 25)):
                ws[rng.randrange(len(ws))] = rng.choice(WORDS)
            ws.insert(rng.randrange(len(ws) + 1), "dup")
        else:
            ws = [rng.choice(WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(ws))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(tmp, "documents.parquet"))

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(10, 64))
    labels = nrng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + nrng.normal(scale=0.6, size=(n_vecs, 64))
    near = nrng.random(n_vecs) < 0.05  # planted near-duplicate vectors
    src_of = nrng.integers(0, n_vecs, size=n_vecs)
    vecs[near] = vecs[src_of[near]] + nrng.normal(scale=0.01, size=(int(near.sum()), 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(tmp, "embeddings.parquet"))

    t0 = datetime.datetime(2024, 1, 1)
    secs = np.sort(nrng.uniform(0, 30 * 86400, size=n_events))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(seconds=float(s)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, 150, size=n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in nrng.integers(0, 5, size=n_events)],
        "value": np.round(nrng.uniform(0.01, 490.0, size=n_events), 2),
        "props": [f'{{"k": {k}}}' for k in nrng.integers(0, 100, size=n_events)],
    }), os.path.join(tmp, "events.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.rename(tmp, final)
    return final
