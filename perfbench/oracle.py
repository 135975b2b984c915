"""Output checks of the benchmark.

Every registry statement is compared with its DuckDB oracle on the same
input, by the rule of tools/verify_local.py: the same column names, the same
numeric kind per column, and the same rows with exact values.

Each probe of the index chain bands candidates with LSH, so it is checked
against the exact answer: the batch docs that no live indexed text matches
at Jaccard >= 0.5, as Dedup.deleteKeptOracleSql states it. A probe must
return exactly those docs: a row the exact answer rules out is a match the
LSH bands missed, a row it lacks is a doc dropped by an entry that should
not be live (an appended text that survived DELETE drops its own batch
doc). The exact answer is computed in Python over an inverted shingle
index with the SQL's semantics (3-word shingles of the space-split text,
docs of at least 3 words, Jaccard rounded to 6 places as DuckDB rounds
it): DuckDB's brute-force self-join costs about 40 us a pair, minutes per
chain at the benchmark's corpus size.
"""
import math
from collections import Counter, defaultdict

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DOC_COLS = ["doc_id", "lang", "source", "n_chars"]


def connect(data):
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=4")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def r6(x):
    """DuckDB's round(x, 6): std::round(x * 1e6) / 1e6."""
    v = x * 1e6
    f = math.floor(v)
    return (f + (1 if v - f >= 0.5 else 0)) / 1e6


class Corpus:
    """The documents table and the 3-word shingle set of each document."""

    def __init__(self, con):
        df = con.sql("SELECT doc_id, text, lang, source, n_chars "
                     "FROM documents").df()
        self.rows = {int(r.doc_id): r for r in df.itertuples(index=False)}
        self.sh = {}
        for d, r in self.rows.items():
            ws = [t for t in (r.text or "").split(" ") if t != ""]
            if len(ws) >= 3:
                self.sh[d] = frozenset(" ".join(ws[i:i + 3])
                                       for i in range(len(ws) - 2))

    def jaccard(self, a, b):
        i = len(a & b)
        return r6(i / (len(a) + len(b) - i))

    def matched(self, batch, corpus_sets, t):
        """Batch docs with some corpus shingle set at jaccard >= t, over an
        inverted index of the corpus shingles."""
        post = defaultdict(list)
        for k, s in enumerate(corpus_sets):
            for g in s:
                post[g].append(k)
        hit = set()
        for d in batch:
            if d not in self.sh:
                continue
            cand = set()
            for g in self.sh[d]:
                cand.update(post[g])
            if any(self.jaccard(self.sh[d], corpus_sets[k]) >= t for k in cand):
                hit.add(d)
        return hit

    def docs_frame(self, ids):
        rows = [self.rows[d] for d in sorted(ids)]
        return frame(DOC_COLS, [(r.doc_id, r.lang, r.source, r.n_chars)
                                for r in rows],
                     {"doc_id": "int64", "n_chars": "int64"})


def frame(cols, rows, dtypes):
    df = pd.DataFrame(rows, columns=cols)
    return df.astype(dtypes) if len(df) else df.astype(
        {c: dtypes.get(c, "object") for c in cols})


def probe_oracle(c, residues, step):
    """Kept batch docs of the probe after `step` of the index chain, the
    batch, and the live texts.

    The index holds one entry per distinct text; DELETE removes every text
    of the deleted slice (content-keyed), as Dedup.deleteKeptOracleSql
    states it.
    """
    order = ["build", "append", "delete"]
    done = order[:order.index(step) + 1] if step in order else order
    res = set(residues["build"])
    if "append" in done:
        res.add(residues["append"])
    live = {c.rows[d].text for d in c.sh if d % 8 in res}
    if "delete" in done:
        live -= {c.rows[d].text for d in c.rows if d % 8 == residues["append"]}
    sets = [c.sh[d] for d in c.sh if c.rows[d].text in live]
    uniq = list({s: None for s in sets})
    batch = {d for d in c.rows if d % 8 in set(residues["batch"])}
    return c.docs_frame(batch - c.matched(batch, uniq, 0.5)), batch, live


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(df, cols):
    return Counter(tuple(_norm(v) for v in r)
                   for r in df[cols].itertuples(index=False, name=None))


def compare(got, want):
    """None when `got` has `want`'s columns and kinds and the same rows;
    else the first difference found."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"schema mismatch: spark={gc} oracle={wc}"
    for c in gc:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        if gk != wk and {gk, wk} <= set("iuf"):
            return (f"dtype mismatch col={c}: spark={got[c].dtype} "
                    f"oracle={want[c].dtype}")
    g, w = _rows(got, gc), _rows(want, wc)
    for diff, what in ((g - w, "rows the oracle rules out"),
                       (w - g, "oracle rows missing")):
        if diff:
            return f"{sum(diff.values())} {what}, e.g. {next(iter(diff))}"
    return None


def check(result, out, data):
    """Check every output; returns (failures, hit, total, extra).

    `hit / total` is the recall: for the probes, the share of the exact
    answer's matched batch docs that the probe drops as matched; for
    registry statements, the share of the oracle's rows returned.
    """
    con = connect(data)
    corpus = Corpus(con) if "residues" in result else None
    failures = dict(result["failures"])
    hit = total = 0
    extra = {}
    for s in result["statements"]:
        name = s["name"]
        probe = name.startswith("probe_")
        if name in failures or (s["oracle"] is None and not probe):
            continue
        try:
            got = con.sql(f"SELECT * FROM '{out}/check/{name}/*.parquet'").df()
            if probe:
                want, batch, live = probe_oracle(
                    corpus, result["residues"], name[len("probe_"):])
                extra["live_text_bytes"] = sum(len(t) for t in live)
            else:
                want = con.sql(s["oracle"]).df()
        except Exception as e:  # a missing output or a broken oracle
            failures[name] = f"check failed: {e}"
            continue
        err = compare(got, want)
        if probe:
            matched = batch - set(want["doc_id"])
            hit += len(matched - set(got["doc_id"]))
            total += len(matched)
        else:
            g, w = _rows(got, sorted(got.columns)), _rows(want, sorted(want.columns))
            hit += sum((g & w).values())
            total += len(want)
        if err:
            failures[name] = err
    con.close()
    return failures, hit, total, extra
