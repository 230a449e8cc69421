"""Seeded input generators. The engine only ever sees what these write
or build; the benchmark keeps its own copy of the truth for the checks.

- ``write_packet_csv``: packet rows after FIXTURES.md §1 — 13-protocol
  mix, the 192.168/10/172.16 address pools, ephemeral plus well-known
  ports, ~1% garbage keys, ~1% duplicate keys, ~2% nulls per non-key
  column.
- ``clustered_corpus``: a 64-d Gaussian mixture on the unit sphere.
  Hash embeddings have no neighbourhood structure (recall@10 ≈ 0.45 at
  any nprobe), so the approximate-search workload needs vectors whose
  neighbours live in a few lists.
"""

from __future__ import annotations

import csv

import numpy as np

PROTOCOLS = ["TCP", "UDP", "HTTP", "HTTPS", "SSH", "FTP", "SMTP",
             "POP3", "IMAP", "DNS", "RDP", "ICMP", "ARP"]
WELL_KNOWN_PORTS = [21, 22, 25, 53, 80, 110, 143, 443, 3389]
GARBAGE_KEYS = ["abc", ""]
HEADER = ["frame.number", "frame.time", "ip.src", "ip.dst", "tcp.srcport",
          "tcp.dstport", "_ws.col.Protocol", "frame.len"]

# Mixture spread, fixed once: at nlist = 100 lists and nprobe = 8 the
# IVF recall@10 is about 0.8 (0.75-0.85 over seeds in a numpy model of
# the index), inside (0, 1) so that a recall loss shows. At 0.9 it was
# 1.0; at 3.0 it falls to 0.45, the hash-embedding figure.
MIXTURE_CENTERS = 64
MIXTURE_SIGMA = 2.0
QUERY_NOISE = 0.05


def ips(rng: np.random.Generator, n: int) -> list[str]:
    pool = rng.integers(0, 3, n)
    a = rng.integers(0, 256, n)
    b = rng.integers(1, 255, n)
    out = []
    for p, x, y in zip(pool, a, b):
        if p == 0:
            out.append(f"192.168.{x}.{y}")
        elif p == 1:
            out.append(f"10.{y % 16}.{x}.{y}")
        else:
            out.append(f"172.16.{x}.{y}")
    return out


def _ports(rng: np.random.Generator, n: int) -> np.ndarray:
    ports = rng.integers(1024, 65536, n)
    known = rng.random(n) < 0.3
    ports[known] = rng.choice(WELL_KNOWN_PORTS, int(known.sum()))
    return ports


def write_packet_csv(path: str, rng: np.random.Generator, first_key: int,
                     n: int) -> set[int]:
    """Write ``n`` packet rows whose numeric keys start at ``first_key``
    and return the set of distinct valid keys — the rows a correct
    clean step keeps."""
    keys: list[str] = []
    valid: set[int] = set()
    next_key = first_key
    for _ in range(n):
        u = rng.random()
        if u < 0.01:
            keys.append(GARBAGE_KEYS[int(rng.integers(0, len(GARBAGE_KEYS)))])
        elif u < 0.02 and valid:
            keys.append(str(next_key - 1 - int(rng.integers(0, min(50, len(valid))))))
        else:
            keys.append(str(next_key))
            valid.add(next_key)
            next_key += 1
    src, dst = ips(rng, n), ips(rng, n)
    sport, dport = _ports(rng, n), _ports(rng, n)
    proto = rng.choice(PROTOCOLS, n)
    flen = rng.integers(64, 1461, n)
    nulls = rng.random((n, 7)) < 0.02
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        for i in range(n):
            t = (first_key + i) * 0.001
            fields = [f"{t:.6f}", src[i], dst[i], sport[i], dport[i], proto[i], flen[i]]
            w.writerow([keys[i]] + ["" if nulls[i, j] else fields[j] for j in range(7)])
    return valid


def unit_rows(m: np.ndarray) -> np.ndarray:
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def clustered_corpus(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """``n`` unit vectors drawn around ``MIXTURE_CENTERS`` random centres."""
    centers = unit_rows(rng.standard_normal((MIXTURE_CENTERS, dim)))
    member = rng.integers(0, MIXTURE_CENTERS, n)
    noise = rng.standard_normal((n, dim)) * (MIXTURE_SIGMA / np.sqrt(dim))
    return unit_rows(centers[member] + noise).astype(np.float32)


def near_queries(rng: np.random.Generator, corpus: np.ndarray, nq: int) -> np.ndarray:
    """In-distribution queries: corpus vectors plus small noise."""
    base = corpus[rng.integers(0, corpus.shape[0], nq)].astype(np.float64)
    noise = rng.standard_normal(base.shape) * (QUERY_NOISE / np.sqrt(base.shape[1]))
    return unit_rows(base + noise).astype(np.float32)


def random_unit(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    return unit_rows(rng.standard_normal((n, dim))).astype(np.float32)


def brute_topk(corpus: np.ndarray, ids: np.ndarray, queries: np.ndarray,
               k: int) -> list[list[tuple[int, float]]]:
    """Driver-side exact cosine top-k: the reference for every check."""
    c = unit_rows(corpus.astype(np.float64))
    q = unit_rows(queries.astype(np.float64))
    sims = q @ c.T
    out = []
    for row in sims:
        top = np.argsort(-row, kind="stable")[:k]
        out.append([(int(ids[j]), float(row[j])) for j in top])
    return out
