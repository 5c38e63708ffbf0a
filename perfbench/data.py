"""Seeded input generators. The same seed gives the same inputs; nothing
here touches Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in"]
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


# ------------------------------------------------------------------ vectors

def clustered_vectors(rng, n: int, dim: int, n_clusters: int,
                      dup_frac: float = 0.0, per_micro: int = 32):
    """-> float32 vectors in two levels of clusters: ``n_clusters`` wide
    clusters, each made of tight groups of about ``per_micro`` rows, so a
    row's nearest neighbours are its group and ANN recall means
    something. ``dup_frac`` of the rows are overwritten with exact copies
    of other rows."""
    centers = rng.standard_normal((n_clusters, dim))
    n_micro = max(1, n // per_micro)
    micro = centers[rng.integers(n_clusters, size=n_micro)]
    micro = micro + 0.35 * rng.standard_normal(micro.shape)
    x = micro[rng.integers(n_micro, size=n)]
    x = (x + 0.05 * rng.standard_normal(x.shape)).astype(np.float32)
    n_dup = int(n * dup_frac)
    if n_dup:
        rows = rng.choice(n, size=2 * n_dup, replace=False)
        x[rows[:n_dup]] = x[rows[n_dup:]]
    return x


def near_queries(rng, x: np.ndarray, n: int, noise: float = 0.02) -> np.ndarray:
    """Queries next to random corpus rows."""
    src = x[rng.integers(len(x), size=n)].astype(np.float64)
    return src + noise * rng.standard_normal(src.shape)


# --------------------------------------------------------------------- text

def vocabulary(rng, size: int = 4000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, size=n)))
    return np.array(sorted(words))


def _doc(rng, vocab: np.ndarray, n_words: int) -> list[str]:
    # Zipf-like ranks over the vocabulary, with one word in five a stopword
    ranks = np.minimum(rng.zipf(1.3, size=n_words) - 1, len(vocab) - 1)
    words = vocab[(ranks * 7919) % len(vocab)].tolist()
    stop = rng.random(n_words) < 0.2
    for i in np.flatnonzero(stop):
        words[i] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return words


def _lines(words: list[str], per_line: int = 12) -> str:
    return "\n".join(" ".join(words[i:i + per_line])
                     for i in range(0, len(words), per_line))


def text_slice(rng, vocab: np.ndarray, n_docs: int, words: int = 120,
               near_frac: float = 0.10, exact_frac: float = 0.02,
               short_frac: float = 0.03):
    """-> (DataFrame(id, text), truth). Docs ``0..n_orig-1`` are originals
    (the first ``short`` of them below gopher's 50-word floor), then
    near-duplicates (three words swapped for fresh ones), then exact
    copies. ``truth`` maps each planted group to its ids."""
    n_near = int(n_docs * near_frac)
    n_exact = int(n_docs * exact_frac)
    n_orig = n_docs - n_near - n_exact
    n_short = int(n_docs * short_frac)
    docs = [_doc(rng, vocab, int(rng.integers(20, 35)) if i < n_short
                 else words + int(rng.integers(-10, 11)))
            for i in range(n_orig)]
    group = {}  # original id -> ids of its near-duplicates
    for j in range(n_near):
        src = int(rng.integers(n_short, n_orig))
        d = list(docs[src])
        for pos in rng.choice(len(d), size=3, replace=False):
            d[pos] = str(vocab[int(rng.integers(len(vocab)))]) + "x"
        docs.append(d)
        group.setdefault(src, []).append(n_orig + j)
    exact_src = rng.choice(np.arange(n_short, n_orig), size=n_exact, replace=False)
    for s in exact_src:
        docs.append(list(docs[int(s)]))
    df = pd.DataFrame({"id": np.arange(len(docs), dtype=np.int64),
                       "text": [_lines(d) for d in docs]})
    truth = {
        "short": set(range(n_short)),
        "exact_copies": {n_orig + n_near + i: int(s) for i, s in enumerate(exact_src)},
        "groups": [[src, *dups] for src, dups in group.items()],
    }
    return df, truth


def planted_pairs(groups: list[list[int]]) -> set[tuple[int, int]]:
    out = set()
    for g in groups:
        for i, a in enumerate(g):
            for b in g[i + 1:]:
                out.add((min(a, b), max(a, b)))
    return out


# ------------------------------------------------------------------- events

def event_files(rng, n_files: int, n_users: int,
                file_span_s: int = 300, dup_frac: float = 0.05,
                late_frac: float = 0.01):
    """Events in the shape of the ``events`` table, cut into files that
    each cover the next ``file_span_s`` seconds. Users act in bursts
    (2 to 8 events, 5 to 60 s apart) separated by long idle gaps, so
    sessions close inside the stream. ``dup_frac`` of each file are exact
    copies of its own rows; ``late_frac`` are planted an hour behind the
    stream (dropped by any watermark under an hour).

    -> list of per-file DataFrames; late events belong to users
    ``n_users`` and up, which have no on-time events."""
    horizon = n_files * file_span_s
    rows = []
    for u in range(n_users):
        t = float(rng.uniform(0, 2400))
        while t < horizon:
            for _ in range(int(rng.integers(2, 9))):
                if t >= horizon:
                    break
                rows.append((u, t))
                t += float(rng.uniform(5, 60))
            t += float(rng.uniform(900, 2400))
    rows.sort(key=lambda r: r[1])
    n = len(rows)
    ev = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts_s": np.array([r[1] for r in rows]),
        "user_id": np.array([r[0] for r in rows], dtype=np.int64),
        "event_type": rng.choice(["view", "click", "cart", "error"], size=n),
        "value": np.round(rng.uniform(0, 20, size=n), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
    })
    ev["file"] = (ev["ts_s"] // file_span_s).astype(int)
    files, next_id = [], n
    for f in range(n_files):
        part = ev[ev["file"] == f].drop(columns="file")
        extra = []
        k = int(len(part) * dup_frac)
        if k:
            extra.append(part.sample(n=k, random_state=int(rng.integers(2**31))))
        # from the fourth file on, an hour behind is late for both the
        # dedup (event time) and the session operator (session end)
        k = int(len(part) * late_frac) if f >= 3 else 0
        if k:
            late = part.sample(n=k, random_state=int(rng.integers(2**31))).copy()
            late["event_id"] = np.arange(next_id, next_id + k, dtype=np.int64)
            late["ts_s"] = np.maximum(f * file_span_s - 3600.0, 0.0) + rng.uniform(0, 60, k)
            late["user_id"] += n_users  # users of their own: never on time
            next_id += k
            extra.append(late)
        part = pd.concat([part, *extra]).sample(frac=1.0, random_state=int(rng.integers(2**31)))
        files.append(_with_ts(part))
    return files


def _with_ts(df: pd.DataFrame) -> pd.DataFrame:
    us = (EPOCH_2024 * 1_000_000 + np.round(df["ts_s"].to_numpy() * 1e6)).astype(np.int64)
    out = df.drop(columns="ts_s").reset_index(drop=True)
    out.insert(1, "ts", pd.to_datetime(us, unit="us").astype("datetime64[us]"))
    return out


def sessions(events: pd.DataFrame, gap_s: float) -> pd.DataFrame:
    """Gap sessions per user, as ``session_window`` forms them: a gap of
    ``gap_s`` or more starts a new session; a session ends ``gap_s``
    after its last event."""
    ev = events.sort_values(["user_id", "ts"])
    t = ev["ts"].astype("int64").to_numpy() / 1e6
    u = ev["user_id"].to_numpy()
    new = np.ones(len(ev), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] >= gap_s)
    sid = np.cumsum(new)
    g = pd.DataFrame({"user_id": u, "t": t, "sid": sid,
                      "value": ev["value"].to_numpy()}).groupby("sid")
    out = g.agg(user_id=("user_id", "first"), start=("t", "min"),
                last=("t", "max"), n_events=("t", "size"),
                sum_value=("value", "sum"))
    out["end"] = out["last"] + gap_s
    return out.drop(columns="last").reset_index(drop=True)
