"""Seeded input generators owned by the benchmark.

Every input the benchmark feeds the program is derived here from the
workload seed, with no import of the program, so a change to the program
cannot change its own inputs. The NMEA burst mirrors the fixture format
of the program's NMEA source: per fix-second, GPGGA + GPRMC (+ sometimes
GPGLL) carry the UTC key, then GPGSA / GPGSV / GPVTG arrive without one
and adopt the forward-filled key; ~2% unknown GPZDA and ~1% malformed
lines ride along.

Generated inputs are cached under the cache directory by (kind, seed,
shape); each cache entry records a content hash.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

START = datetime(2024, 3, 23, 12, 0, 0, tzinfo=timezone.utc)


def _checksum(body: str) -> str:
    acc = 0
    for ch in body:
        acc ^= ord(ch)
    return f"${body}*{acc:02X}"


def _ddmm(deg: float) -> str:
    d = int(abs(deg))
    return f"{d:02d}{(abs(deg) - d) * 60.0:07.4f}"


class Receiver:
    """One GPS receiver's sentence stream, reproducible from (seed, index)."""

    def __init__(self, seed: int, index: int) -> None:
        self.rng = random.Random(f"perfbench/{seed}/rx/{index}")
        self.lat = 30.0 + (index % 50) + self.rng.random()
        self.lon = -20.0 + (index % 140) + self.rng.random()
        self.start = START + timedelta(seconds=7 * (index % 500))

    def burst(self, sec: int) -> list[str]:
        """The sentence burst of fix-second ``sec`` (call in second order)."""
        r = self.rng
        t = self.start + timedelta(seconds=sec)
        utc, date = t.strftime("%H%M%S"), t.strftime("%d%m%y")
        self.lat += (r.random() - 0.5) * 1e-3
        self.lon += (r.random() - 0.5) * 1e-3
        lat, lon = _ddmm(self.lat), _ddmm(self.lon)
        ns = "N" if self.lat >= 0 else "S"
        ew = "E" if self.lon >= 0 else "W"
        nsat = r.randint(3, 12)
        hdop = round(r.uniform(0.5, 12.0), 1)
        speed = round(r.uniform(0.0, 40.0), 1)
        course = round(r.uniform(0.0, 359.9), 1)
        alt = round(500 + r.uniform(-20, 20), 1)
        frac = ".00" if r.random() < 0.2 else ""
        out = [
            _checksum(f"GPGGA,{utc}{frac},{lat},{ns},{lon},{ew},1,{nsat:02d},{hdop},{alt},M,46.9,M,,"),
            _checksum(f"GPRMC,{utc},A,{lat},{ns},{lon},{ew},{speed:05.1f},{course:05.1f},{date},003.1,W"),
        ]
        if r.random() < 0.15:
            out.append(_checksum(f"GPGLL,{lat},{ns},{lon},{ew},{utc},A,"))
        prns = sorted(r.sample(range(1, 33), nsat))
        pad = "," * (12 - nsat)
        out.append(
            _checksum(
                f"GPGSA,A,3,{','.join(f'{p:02d}' for p in prns)}{pad},"
                f"{round(hdop * 1.4, 1)},{hdop},{round(hdop * 1.1, 1)}"
            )
        )
        n_view = min(nsat, 8)
        n_msg = (n_view + 3) // 4
        for m in range(n_msg):
            groups = ",".join(
                f"{p:02d},{r.randint(5, 85):02d},{r.randint(0, 359):03d},{r.randint(10, 50):02d}"
                for p in prns[m * 4 : m * 4 + 4]
            )
            out.append(_checksum(f"GPGSV,{n_msg},{m + 1},{n_view:02d},{groups}"))
        out.append(
            _checksum(
                f"GPVTG,{course:05.1f},T,{round(course - 2.1, 1):05.1f},M,"
                f"{speed:05.1f},N,{round(speed * 1.852, 1):05.1f},K"
            )
        )
        if r.random() < 0.02:
            out.append(_checksum(f"GPZDA,{utc},{t.day:02d},{t.month:02d},{t.year},00,00"))
        if r.random() < 0.01:
            out.append("$GP")
        return out


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


def _cached(path: str, build) -> dict:
    """Build into ``path`` once; ``build(tmp_dir) -> info`` runs in a
    scratch sibling that is renamed into place when complete."""
    meta = os.path.join(path, "INPUT.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "INPUT.json"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return info


# ---------------------------------------------------------------- fix_batch


def _write_archive(seed: int, n_receivers: int, n_seconds: int, text_dir: str) -> list[tuple[int, int, str]]:
    """Write one text file per receiver; return parquet-twin rows
    (line_no = 1-based line in the file, track = receiver index)."""
    rows = []
    for rx in range(n_receivers):
        rcv = Receiver(seed, rx)
        lines = [ln for sec in range(n_seconds) for ln in rcv.burst(sec)]
        with open(os.path.join(text_dir, f"rx{rx:04d}.nmea"), "w") as f:
            f.write("\n".join(lines) + "\n")
        rows.extend((i + 1, rx, ln) for i, ln in enumerate(lines))
    return rows


def _write_lines_parquet(rows: list[tuple[int, int, str]], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "line_no": pa.array([r[0] for r in rows], pa.int64()),
                "track_id": pa.array([r[1] for r in rows], pa.int64()),
                "value": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        path,
    )


def fix_archive(cache: str, seed: int, n_receivers: int, n_seconds: int) -> dict:
    """One NMEA text file per receiver under ``<entry>/text`` plus the
    parquet twin ``<entry>/lines.parquet`` the DuckDB oracle reads."""
    path = os.path.join(cache, f"fix_archive-s{seed}-r{n_receivers}x{n_seconds}")

    def build(tmp: str) -> dict:
        text_dir = os.path.join(tmp, "text")
        os.makedirs(text_dir)
        rows = _write_archive(seed, n_receivers, n_seconds, text_dir)
        _write_lines_parquet(rows, os.path.join(tmp, "lines.parquet"))
        files = [os.path.join(text_dir, n) for n in os.listdir(text_dir)]
        return {
            "lines": len(rows),
            "bytes": sum(os.path.getsize(p) for p in files),
            "files": len(files),
            "sha256_16": _digest(files),
        }

    info = _cached(path, build)
    info["text_dir"] = os.path.join(path, "text")
    info["parquet"] = os.path.join(path, "lines.parquet")
    return info


# ---------------------------------------------------------- fix_stream_live


def _jsonl(rows: list[tuple[int, int, str]]) -> bytes:
    return "".join(
        json.dumps({"line_no": n, "track_id": t, "value": v}) + "\n" for n, t, v in rows
    ).encode()


def stream_feed(
    cache: str,
    seed: int,
    n_receivers: int,
    backlog_seconds: int,
    backlog_files: int,
    groups: int,
    live_files: int,
) -> dict:
    """Inputs of the live stream.

    Backlog: ``backlog_seconds`` fix-seconds of every receiver, split in
    ``backlog_files`` JSONL files. Live: ``live_files`` payloads; payload
    k holds the next fix-second of receiver group ``k % groups``, so every
    receiver advances one fix-second per ``groups`` payloads. ``line_no``
    numbers each receiver's lines across the whole feed.
    """
    path = os.path.join(
        cache,
        f"stream_feed-s{seed}-r{n_receivers}-b{backlog_seconds}x{backlog_files}"
        f"-g{groups}-l{live_files}",
    )

    def build(tmp: str) -> dict:
        rx = [Receiver(seed, i) for i in range(n_receivers)]
        next_line = [0] * n_receivers
        next_sec = [0] * n_receivers
        all_rows: list[tuple[int, int, str]] = []

        def take(i: int) -> list[tuple[int, int, str]]:
            out = []
            for ln in rx[i].burst(next_sec[i]):
                out.append((next_line[i], i, ln))
                next_line[i] += 1
            next_sec[i] += 1
            return out

        os.makedirs(os.path.join(tmp, "backlog"))
        os.makedirs(os.path.join(tmp, "live"))
        per_file = -(-backlog_seconds // backlog_files)
        for b in range(backlog_files):
            rows = []
            for _ in range(per_file if b < backlog_files - 1 else backlog_seconds - per_file * b):
                for i in range(n_receivers):
                    rows.extend(take(i))
            all_rows.extend(rows)
            with open(os.path.join(tmp, "backlog", f"b{b:04d}.json"), "wb") as f:
                f.write(_jsonl(rows))
        backlog_lines = len(all_rows)
        live_lines = []
        for k in range(live_files):
            rows = []
            for i in range(k % groups, n_receivers, groups):
                rows.extend(take(i))
            all_rows.extend(rows)
            live_lines.append(len(rows))
            with open(os.path.join(tmp, "live", f"l{k:05d}.json"), "wb") as f:
                f.write(_jsonl(rows))
        _write_lines_parquet(all_rows, os.path.join(tmp, "lines.parquet"))
        files = [os.path.join(tmp, d, n) for d in ("backlog", "live")
                 for n in os.listdir(os.path.join(tmp, d))]
        return {
            "backlog_lines": backlog_lines,
            "live_lines": live_lines,
            "lines": len(all_rows),
            "sha256_16": _digest(files),
        }

    info = _cached(path, build)
    info["backlog_dir"] = os.path.join(path, "backlog")
    info["live_dir"] = os.path.join(path, "live")
    info["parquet"] = os.path.join(path, "lines.parquet")
    return info


# ----------------------------------------------------------------- lake_mix

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def lake_tables(cache: str, seed: int, scale: float) -> dict:
    """The star-schema tables the lake mix reads (TPC-H-like dimensions +
    lineitem/orders facts at ``scale`` × the TPC-H row counts, plus the
    fixed-size ``documents`` and ``embeddings`` corpora), one parquet
    file each, in the column layout the program's table source expects."""
    path = os.path.join(cache, f"lake-s{seed}-sf{scale}")

    def build(tmp: str) -> dict:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        g = np.random.default_rng(seed)
        n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
        n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)

        def money(lo: float, hi: float, n: int):
            return np.round(g.uniform(lo, hi, n), 2)

        def day(lo: str, hi: str, n: int):
            a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
            return (a + g.integers(0, (b - a).astype(int), n)).astype("datetime64[us]")

        def pick(vals: list[str], n: int):
            return np.asarray(vals, dtype=object)[g.integers(0, len(vals), n)]

        retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
        l_part = g.integers(0, n_part, n_line)
        l_qty = g.integers(1, 51, n_line).astype(float)
        tables = {
            "region": {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            },
            "nation": {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            },
            "customer": {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(_SEGMENTS, n_cust),
            },
            "supplier": {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            },
            "part": {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [f"{a} {b}" for a, b in zip(pick(_ADJ, n_part), pick(_NOUN, n_part))],
                "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
                "p_type": pick(_PTYPES, n_part),
                "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": retail,
            },
            "orders": {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pick(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": day("1995-01-01", "2001-08-02", n_ord),
                "o_orderpriority": pick(_PRIO, n_ord),
            },
            "lineitem": {
                "l_orderkey": pa.array(g.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(l_part, pa.int64()),
                "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(g.integers(1, 8, n_line), pa.int32()),
                "l_quantity": l_qty,
                # TPC-H: extended price = quantity × the part's retail price
                "l_extendedprice": np.round(l_qty * retail[l_part], 2),
                "l_discount": g.integers(0, 11, n_line) / 100.0,
                "l_tax": g.integers(0, 9, n_line) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_line),
                "l_linestatus": pick(["F", "O"], n_line),
                "l_shipdate": day("1995-01-02", "2001-11-05", n_line),
            },
        }
        n_docs = 500
        texts = []
        for _ in range(n_docs):
            n = int(g.integers(8, 100))
            texts.append(" ".join(pick(_WORDS, n)))
        tables["documents"] = {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pick(_LANGS, n_docs),
            "source": [f"src{i}" for i in g.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
        vecs = g.normal(size=(n_docs, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        tables["embeddings"] = {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, n_docs), pa.int32()),
        }
        files, rows = [], {}
        for name, cols in tables.items():
            t = pa.table(cols)
            p = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(t, p)
            files.append(p)
            rows[name] = t.num_rows
        return {"rows": rows, "sha256_16": _digest(files)}

    info = _cached(path, build)
    info["dir"] = path
    return info
