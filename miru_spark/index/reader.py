"""Index reader — stats, df lookup, driver-side posting seek.

The driver fetch is where "seek" happens in a Spark-native index. Postings
are parquet files partitioned by ``term_pref`` (a hash of the term), so
every file spans nearly the whole vocabulary and file-level term min/max
statistics prune nothing. Instead each reader keeps a terms index (Lucene's
in-memory terms index is the model): ``term -> [(file, row group, row)]``,
built lazily for one ``term_pref`` partition the first time a query
touches it, from that partition's ``term`` and ``bucket`` columns, and
cached with each file's parquet footer. Beside it the reader holds the
chunk rows themselves: the first fetch that needs a row reads its row
group, takes the rows it misses (all rows of a small row group) and
materialises them as the dicts ``fetch_terms`` returns, so every later fetch of those rows is a dict
lookup — no parquet read, ``take`` or per-query materialisation. At most
``_RESIDENT_BYTES`` (128 MiB, counted as the Python and numpy bytes the
rows keep alive) stay resident per reader; past it the rows loaded first
are evicted first. The same terms-index pass sums each term's
``df_chunk``, so the distributed scorers read a term's global df
driver-side too. Everything else is tiny (stats.json, df rows for <=10
query terms).

A reader is a point-in-time view of the index it opened: its corpus stats,
tombstones, terms index, resident chunk rows, and the Spark relations
``postings_df`` and ``docmap_df`` filter (one of each, built on first use
and listed once) stay those of the moment they were read. Open a new
reader to see later commits.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.index.format import impact_bound
from miru_spark.index.writer import term_pref_py
from miru_spark.session import local_frame


# Bytes of materialised chunk rows one reader keeps resident, counted by
# ``_chunk_rows`` when the rows are loaded. Past it, the rows loaded first
# are evicted first.
_RESIDENT_BYTES = 128 << 20

# A miss in a row group of at most this many rows materialises all of
# them: a row costs ~25 us to materialise and the row group's read ~1 ms,
# so the whole group costs at most about a second read, and later misses
# in it are saved. A bigger group materialises only the missed rows, so a
# miss never costs much more than the seek did before rows were kept.
_WHOLE_GROUP_ROWS = 64

# chunk columns the driver fetch materializes (pos_blob only on request)
_FETCH_COLUMNS = [
    "term", "bucket", "codec", "df_chunk", "blob", "i_tf", "i_dl", "blocks"
]


# a chunk row's numpy block metadata that views table-wide arrays
_VIEWS = ("n", "last", "off_g", "off_t", "off_d", "off_p", "fr_tf", "fr_dl", "best")


def _chunk_rows(tbl, avgdl: float, with_positions: bool) -> tuple[list, list]:
    """A table's chunk rows as the dicts ``fetch_terms`` hands out, in table
    order, and the bytes each keeps alive.

    Column-wise materialization: per-block metadata stays numpy (one
    flatten of the arrow list<struct> column) instead of ~blocks-many
    Python dicts; a row keeps only scalars, its blob bytes and numpy views,
    plus the per-block ``best`` bounds baked under ``avgdl``. Those are
    computed for the whole table in one pass: the score is per (tf, dl)
    pair and the max per block, so each row's slice equals its own pass
    exactly.

    A row's bytes are ``_row_bytes`` plus the data of its views into the
    table-wide numpy arrays; the first row also carries those arrays'
    headers, so a table's rows sum to all they hold together. Rows are
    evicted in load order, so the rows of one table leave together and
    never leave their shared arrays counted by no one for long."""
    from miru_spark.index.format import best_block_scores

    terms_l = tbl.column("term").to_pylist()
    buckets = tbl.column("bucket").to_pylist()
    codecs = tbl.column("codec").to_pylist()
    dfs = tbl.column("df_chunk").to_pylist()
    blobs = tbl.column("blob").to_pylist()
    itf_rows = tbl.column("i_tf").to_pylist()
    idl_rows = tbl.column("i_dl").to_pylist()
    pos_blobs = tbl.column("pos_blob").to_pylist() if with_positions else None
    bcol = tbl.column("blocks").combine_chunks()
    row_off = bcol.offsets.to_numpy().astype(np.int64)
    sv = bcol.values
    n_np = sv.field("n").to_numpy().astype(np.int64)
    last_np = sv.field("last_docid").to_numpy().astype(np.int64)
    og = sv.field("off_g").to_numpy().astype(np.int64)
    ot = sv.field("off_t").to_numpy().astype(np.int64)
    od = sv.field("off_d").to_numpy().astype(np.int64)
    names = {f.name for f in sv.type}
    op = (
        sv.field("off_p").to_numpy().astype(np.int64)
        if "off_p" in names
        else np.full(n_np.size, -1, dtype=np.int64)
    )
    # sv is a StructArray: .field() returns plain (non-chunked) arrays
    fitf = sv.field("i_tf")
    fr_off_all = fitf.offsets.to_numpy().astype(np.int64)
    fr_end = int(fr_off_all[-1]) if fr_off_all.size else 0
    fr_tf_all = fitf.values.to_numpy().astype(np.int64)
    fr_dl_all = sv.field("i_dl").values.to_numpy().astype(np.int64)
    best_all = best_block_scores(
        fr_off_all, fr_tf_all[:fr_end], fr_dl_all[:fr_end], avgdl
    )
    bases = (n_np, last_np, og, ot, od, op, fr_tf_all, fr_dl_all, best_all)
    rows, sizes = [], []
    for i in range(tbl.num_rows):
        lo, hi = int(row_off[i]), int(row_off[i + 1])
        flo, fhi = int(fr_off_all[lo]), int(fr_off_all[hi])
        bm_meta = {
            "n": n_np[lo:hi],
            "last": last_np[lo:hi],
            "off_g": og[lo:hi],
            "off_t": ot[lo:hi],
            "off_d": od[lo:hi],
            "off_p": op[lo:hi],
            # frontier views + the avgdl the bounds were baked under, so
            # block_arrays can re-derive exact bounds under OTHER stats
            "fr_off": fr_off_all[lo : hi + 1] - flo,
            "fr_tf": fr_tf_all[flo:fhi],
            "fr_dl": fr_dl_all[flo:fhi],
            "avgdl": avgdl,
            "best": best_all[lo:hi],
        }
        r = {
            "term": terms_l[i],
            "bucket": buckets[i],
            "codec": codecs[i],
            "df_chunk": dfs[i],
            "blob": blobs[i],
            "i_tf": itf_rows[i],
            "i_dl": idl_rows[i],
            "bm": bm_meta,
        }
        if with_positions:
            r["pos_blob"] = pos_blobs[i]
        rows.append(r)
        sizes.append(_row_bytes(r) + sum(bm_meta[k].nbytes for k in _VIEWS))
    if sizes:
        # the bases' own headers and any data no view spans
        sizes[0] += sum(map(sys.getsizeof, bases)) - sum(
            sum(r["bm"][k].nbytes for r in rows) for k in _VIEWS
        )
    return rows, sizes


def _row_bytes(r: dict) -> int:
    """Bytes one chunk row keeps alive besides the numpy buffers its views
    share: ``sys.getsizeof`` of the row and its block dict, of every value
    of both (object headers, str and bytes payloads, the owned ``fr_off``
    buffer) and of the ints in its frontier lists. Dict keys are shared
    literals and are not counted."""
    get = sys.getsizeof
    return (
        get(r)
        + sum(map(get, r.values()))
        + sum(map(get, r["bm"].values()))
        + sum(map(get, r["i_tf"]))
        + sum(map(get, r["i_dl"]))
    )


class _TermLocator:
    """The driver fetch's terms index, ``term -> [(file, row group, row)]``,
    and the chunk rows it points at, held resident.

    Locations are built lazily, one ``term_pref`` partition at a time, from
    that partition's ``term`` and ``bucket`` columns (a term's locations
    are kept in bucket order); each file's parquet footer (``FileMetaData``)
    is cached beside them. The same pass sums each term's ``df_chunk`` over
    the partition's rows: the term's global df over exactly the rows a scan
    of its partition reads. Memory is O(terms in the partitions touched so
    far), the same class as Lucene's in-memory terms index.

    Chunk rows are kept per (file, row group, row, ``with_positions``). A
    fetch that misses rows reads each of their row groups once (the
    smallest parquet read), closes the file at once, takes the missed rows
    (all rows of a group of at most ``_WHOLE_GROUP_ROWS``), builds the
    dicts ``fetch_terms`` hands out (scalars, blob bytes, numpy block
    views, ``best`` bounds under the reader's avgdl) and keeps them; a
    miss costs about what the seek did before rows were kept. Rows are shared by every
    fetch and never mutated; nothing but the loader writes a row key. At
    most ``_RESIDENT_BYTES`` stay resident per reader (the bytes
    ``_chunk_rows`` counts: payloads, numpy buffers and every Python
    object of a row), evicting the rows loaded first; a row bigger than
    that on its own is served without being kept. Because each row group
    is read on its own, files of different layout generations (required-
    and optional-field schemas) never meet in one table.

    Partitions are built under the locator's lock and published only once
    complete. Rows are read and materialised outside it: the first thread
    to miss a row registers its load and the others wait for it and share
    the row, so a reader shared by threads builds each partition and row
    at most once while it stays resident, and one load never stalls
    another. A hit is a lock-free dict ``get``. No file handle outlives a
    call, and the rows are a point-in-time view like the rest of the
    reader.
    """

    def __init__(self, partition_files, avgdl: float):
        self._partition_files = partition_files  # term_pref -> [paths]
        self._avgdl = avgdl
        self._lock = threading.Lock()
        self._parts: dict[int, dict[str, list[tuple[int, int, int]]]] = {}
        self._files: list[tuple] = []  # file index -> (path, FileMetaData)
        self._df: dict[str, int] = {}  # term -> sum of its df_chunk
        # (file index, row group, row, with_positions) -> (row, bytes), in
        # load order
        self._rows: dict[tuple[int, int, int, bool], tuple[dict, int]] = {}
        self._held = 0  # resident bytes: sum over self._rows
        self._loading: dict[tuple[int, int, int, bool], _Load] = {}

    def _partition(self, pref: int) -> dict[str, list[tuple[int, int, int]]]:
        part = self._parts.get(pref)
        if part is not None:
            return part
        import pyarrow.parquet as pq

        with self._lock:
            part = self._parts.get(pref)
            if part is None:
                found: dict[str, list] = {}
                dfs: dict[str, int] = {}
                for path in self._partition_files(pref):
                    with pq.ParquetFile(path) as pf:
                        fi = len(self._files)
                        self._files.append((path, pf.metadata))
                        for rg in range(pf.num_row_groups):
                            t = pf.read_row_group(
                                rg, columns=["term", "bucket", "df_chunk"]
                            )
                            for row, (term, bucket, df) in enumerate(
                                zip(*(c.to_pylist() for c in t.columns))
                            ):
                                found.setdefault(term, []).append(
                                    (bucket, fi, rg, row)
                                )
                                dfs[term] = dfs.get(term, 0) + df
                part = {
                    term: [loc[1:] for loc in sorted(locs)]
                    for term, locs in found.items()
                }
                self._df.update(dfs)
                self._parts[pref] = part
        return part

    def dfs(self, terms) -> dict[str, int]:
        """Global df of each distinct present term, in first-seen order:
        its ``df_chunk`` summed over every chunk row of the view. Absent
        terms are absent from the result."""
        return {
            t: self._df[t]
            for t in dict.fromkeys(terms)
            if t in self._partition(term_pref_py(t))
        }

    def rows(self, terms, with_positions: bool) -> list[dict]:
        """The chunk rows of ``terms``, ordered by (term, bucket): resident
        ones looked up, missing ones materialised by ``_load`` (with every
        other row of a row group of at most ``_WHOLE_GROUP_ROWS``).
        Duplicate terms are looked up once; absent terms contribute
        nothing."""
        keys = [
            (fi, rg, row, with_positions)
            for t in sorted(set(terms))
            for fi, rg, row in self._partition(term_pref_py(t)).get(t, ())
        ]
        got, missed = {}, {}
        for key in keys:
            hit = self._rows.get(key)
            if hit is None:
                missed.setdefault(key[:2], []).append(key)
            else:
                got[key] = hit[0]
        for (fi, rg), group in missed.items():
            n = self._files[fi][1].row_group(rg).num_rows
            if n <= _WHOLE_GROUP_ROWS:
                group = [(fi, rg, row, with_positions) for row in range(n)]
            got.update(self._load(group))
        return [got[key] for key in keys]

    def _load(self, keys: list) -> dict:
        """The chunk rows ``keys`` (all in one row group). A row another
        thread is loading is waited for and shared; the rest are
        registered, then read and materialised outside the lock in one
        read of the row group, and published."""
        out, mine, theirs = {}, {}, {}
        with self._lock:
            for key in keys:
                hit = self._rows.get(key)
                if hit is not None:
                    out[key] = hit[0]
                elif key in self._loading:
                    theirs[key] = self._loading[key]
                else:
                    mine[key] = self._loading[key] = _Load()
        if mine:
            self._materialise(mine)
            out.update((key, load.row) for key, load in mine.items())
        for key, load in theirs.items():
            load.done.wait()
            # None: that load failed, so try again
            out[key] = load.row if load.row is not None else self._load([key])[key]
        return out

    def _materialise(self, loads: dict) -> None:
        """Read the row group of ``loads`` (keys this thread registered),
        take and materialise their rows into the loads, keep what fits the
        bound, and release the waiters, also when the read fails."""
        import pyarrow.parquet as pq

        fi, rg, _, with_positions = next(iter(loads))
        sizes = []
        try:
            path, md = self._files[fi]
            cols = [*_FETCH_COLUMNS, "pos_blob"] if with_positions else _FETCH_COLUMNS
            with pq.ParquetFile(path, metadata=md) as pf:
                tbl = pf.read_row_group(rg, columns=cols)
            rows, sizes = _chunk_rows(
                tbl.take([key[2] for key in loads]), self._avgdl, with_positions
            )
            for load, row in zip(loads.values(), rows):
                load.row = row
        finally:
            with self._lock:
                for key in loads:
                    del self._loading[key]
                for (key, load), n in zip(loads.items(), sizes):
                    if n <= _RESIDENT_BYTES:
                        while self._held + n > _RESIDENT_BYTES:
                            self._held -= self._rows.pop(next(iter(self._rows)))[1]
                        self._rows[key] = (load.row, n)
                        self._held += n
            for load in loads.values():
                load.done.set()


class _Load:
    """One chunk row being materialised: threads that miss on it meanwhile
    wait on ``done`` and share ``row`` (None if the load failed)."""

    def __init__(self):
        self.done = threading.Event()
        self.row: dict | None = None


def lev_dist_bounded(a: str, b: str, max_edits: int) -> int:
    """Exact edit distance when <= ``max_edits``, else ``max_edits + 1`` —
    THE bounded-distance helper shared by spell suggestion (A37) and the
    phrase suggester (A75), so a future semantics change (e.g. Lucene-style
    transpositions) lands in exactly one place."""
    for d in range(max_edits + 1):
        if _lev_within(a, b, d):
            return d
    return max_edits + 1


def _lev_within(a: str, b: str, k: int, transpositions: bool = False) -> bool:
    """Banded Levenshtein: True iff dist(a, b) <= k; early-exits when a DP
    row's minimum exceeds k (Ukkonen's cutoff). ``transpositions`` adds the
    OSA (restricted Damerau) transposition edit — adjacent-swap costs 1 —
    the distance Lucene's FuzzyQuery automata count by default."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > k:
        return False
    prev2: list[int] | None = None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if (
                transpositions
                and i > 1
                and j > 1
                and ca == b[j - 2]
                and a[i - 2] == cb
            ):
                v = min(v, prev2[j - 2] + 1)
            cur.append(v)
        if min(cur) > k:
            return False
        prev2, prev = prev, cur
    return prev[-1] <= k


@dataclass
class TermPostings:
    """One term's posting list as an ordered list of chunk rows (driver-side
    handle; blocks decode lazily inside the WAND loop)."""

    term: str
    df: float
    idf: float
    chunks: list = field(default_factory=list)  # rows sorted by bucket

    def max_score(self, avgdl: float) -> float:
        """Term-max upper bound under CURRENT stats, from the chunks' stored
        (tf, dl) impact frontiers (stats-free on disk)."""
        return max(
            (impact_bound(r["i_tf"], r["i_dl"], self.idf, avgdl) for r in self.chunks),
            default=0.0,
        )

    def block_arrays(self, avgdl: float):
        """Concatenated per-block numpy metadata across this term's chunks
        (bucket-ordered): (last_docids, idf-scaled max bounds, sources) —
        the vectorized feed for PostingIterator; no per-block Python."""
        from miru_spark.index.format import best_block_scores

        lasts, bests, srcs = [], [], []
        for r in self.chunks:
            bm = r["bm"]
            lasts.append(bm["last"])
            if bm["avgdl"] == avgdl:
                bests.append(bm["best"])
            else:
                # caller scores under DIFFERENT corpus stats (e.g. a
                # time-traveled snapshot): re-derive exact bounds from the
                # stats-free frontiers instead of using the baked avgdl
                bests.append(
                    best_block_scores(
                        bm["fr_off"], bm["fr_tf"], bm["fr_dl"], avgdl
                    )
                )
            srcs.append((r["blob"], bm, int(r["codec"])))
        if not lasts:
            e = np.empty(0, dtype=np.int64)
            return e, e.astype(np.float64), []
        return (
            np.concatenate(lasts),
            self.idf * np.concatenate(bests),
            srcs,
        )


class IndexReader:
    """Index handle. When the index was committed through the snapshot
    protocol (index/snapshots.py), reads are manifest-driven: only the
    current (or the requested ``snapshot_id``) snapshot's data files are
    opened, pruned by each file's recorded term_pref — directory state is
    never trusted. A time-traveled reader scores with ITS snapshot's corpus
    stats. Directory-layout indexes read exactly as before."""

    def __init__(
        self, spark: SparkSession, index_path: str, snapshot_id: int | None = None
    ):
        from miru_spark.index import snapshots as snapmod

        from miru_spark.index.writer import complete_purge_swap

        self.spark = spark
        self.index_path = index_path
        # roll forward a purge swap a previous process crashed mid-way
        # through (no-op unless the sentinel file exists)
        complete_purge_swap(index_path)
        self.snapshot = snapmod.read_snapshot(index_path, snapshot_id)
        if self.snapshot is not None:
            self.stats = self.snapshot["stats"]
        else:
            if snapshot_id is not None:
                raise FileNotFoundError(
                    f"snapshot {snapshot_id} requested but {index_path} has "
                    "no snapshots"
                )
            with open(f"{index_path}/stats.json") as f:
                self.stats = json.load(f)
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.positions = bool(self.stats.get("positions", False))
        # a time-traveled reader views a HISTORICAL snapshot: tombstones
        # written later must not leak into it
        self._pinned_snapshot = snapshot_id is not None
        self._locator = _TermLocator(self._partition_files, self.avgdl)
        # the postings and docmap relations, each built on first use
        self._relations_lock = threading.Lock()
        self._postings: DataFrame | None = None
        self._docmap: DataFrame | None = None

    # -------------------------------------------------------------- scans --
    def _partition_files(self, pref: int) -> list[str]:
        """Data files of one term_pref partition: the snapshot's manifest
        entries for it, or the files in its directory."""
        if self.snapshot is not None:
            return [
                os.path.join(self.index_path, p)
                for p, fpref in self.snapshot["files"].items()
                if fpref == pref
            ]
        d = f"{self.index_path}/postings/term_pref={pref}"
        if not os.path.isdir(d):
            return []
        return [
            f"{d}/{f}"
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]

    def postings_df(self, terms: list[str] | None = None) -> DataFrame:
        """The chunk rows of ``terms`` (all rows when None) as a Spark
        DataFrame: the reader's one postings relation filtered on
        ``term_pref`` (partition pruning) and ``term IN`` (a pushed parquet
        filter). The relation — the postings directory, or every data file
        of the reader's snapshot — is listed and its schema read once, on
        first use, so later calls launch no Spark job. Like the rest of the
        reader it is a point-in-time view: files committed after that first
        use are not seen; open a new reader for them."""
        with self._relations_lock:
            if self._postings is None:
                self._postings = self._postings_relation()
        if terms is None:
            return self._postings
        prefs = sorted({term_pref_py(t) for t in terms})
        return self._postings.filter(
            F.col("term_pref").isin(prefs) & F.col("term").isin(terms)
        )

    def _postings_relation(self) -> DataFrame:
        if self.snapshot is None:
            return self.spark.read.parquet(f"{self.index_path}/postings")
        if not self.snapshot["files"]:
            return self._empty_postings_df()
        return self.spark.read.option(
            "basePath", f"{self.index_path}/postings"
        ).parquet(*(os.path.join(self.index_path, p) for p in self.snapshot["files"]))

    def _empty_postings_df(self) -> DataFrame:
        from pyspark.sql import types as T

        from miru_spark.operators.merge import CHUNK_SCHEMA

        schema = T.StructType(
            [*CHUNK_SCHEMA.fields, T.StructField("term_pref", T.IntegerType())]
        )
        return local_frame(self.spark, schema)

    @property
    def tombstones(self) -> np.ndarray | None:
        """Sorted unique tombstoned doc_ids (writer.delete_docs), or None.
        Loaded once per reader from the tombstones dir (driver-side
        pyarrow); every serving path filters these out (Lucene live-docs
        semantics) until purge_deleted rewrites the index."""
        if not hasattr(self, "_tombstones"):
            import pyarrow.dataset as pads

            d = f"{self.index_path}/tombstones"
            if self._pinned_snapshot:
                self._tombstones = None  # historical view: docs were live
            elif os.path.isdir(d):
                ids = (
                    pads.dataset(d, format="parquet")
                    .to_table(columns=["doc_id"])
                    .column("doc_id")
                    .to_numpy()
                )
                self._tombstones = np.unique(ids.astype(np.int64))
            else:
                self._tombstones = None
        return self._tombstones

    def tombstones_df(self) -> DataFrame | None:
        """Distinct tombstoned ids as a DataFrame — read straight from the
        on-disk parquet (no driver->JVM row shipping) and cached per
        reader; None when the reader has no applicable tombstones."""
        t = self.tombstones
        if t is None or t.size == 0:
            return None
        if getattr(self, "_tombstones_df", None) is None:
            self._tombstones_df = (
                self.spark.read.parquet(f"{self.index_path}/tombstones")
                .select(F.col("doc_id").cast("long"))
                .distinct()
            )
        return self._tombstones_df

    def docmap_df(self) -> DataFrame:
        """The docmap as a Spark DataFrame: one relation per reader, built
        on first use with the schema of the pyarrow dataset the reader
        already opens, so no call — the first included — launches a Spark
        job. A point-in-time view like ``postings_df``: a purge commit
        records its own docmap version in the snapshot, and pre-purge
        snapshots keep reading the original (full) docmap."""
        from pyspark.sql.pandas.types import from_arrow_schema

        with self._relations_lock:
            if self._docmap is None:
                self._docmap = self.spark.read.schema(
                    from_arrow_schema(self._docmap_dset().schema)
                ).parquet(f"{self.index_path}/{self._docmap_dir()}")
        return self._docmap

    def _docmap_dir(self) -> str:
        if self.snapshot is not None:
            return self.snapshot.get("docmap", "docmap")
        return "docmap"

    def docmap_columns(self) -> list[str]:
        """Metadata column names of the docmap (driver-side schema peek)."""
        return [f.name for f in self._docmap_dset().schema]

    def docmap_int_columns(self) -> set[str]:
        """Integer-typed docmap columns (range-filter bounds coerce to int)."""
        import pyarrow as pa

        return {
            f.name
            for f in self._docmap_dset().schema
            if pa.types.is_integer(f.type)
        }

    def _docmap_dset(self):
        import pyarrow.dataset as pads

        if getattr(self, "_dm_dset", None) is None:
            self._dm_dset = pads.dataset(
                f"{self.index_path}/{self._docmap_dir()}", format="parquet"
            )
        return self._dm_dset

    def filter_doc_ids(self, where: dict) -> np.ndarray:
        """Sorted unique doc_ids whose docmap metadata matches ``where`` —
        the filtered-search allowlist (A34). ``where`` maps column ->
        value (equality), list of values (IN), or ``filters.Range``
        (range, A35); conditions AND together.

        Driver fast path: a pushed-down pyarrow scan of the docmap
        projected to the single doc_id column — row groups whose column
        statistics exclude the predicate are never read, no Spark job.
        Cost class: O(matching docs) driver memory, same class as the
        candidate arrays the scatter-gather path already holds; at cluster
        scale use ``search_distributed(where=...)``, which keeps the
        filter as a distributed semi-join instead of a driver array.
        """
        from miru_spark.filters import arrow_predicate

        cols = set(self.docmap_columns())
        flt = None
        for col, val in where.items():
            if col not in cols:
                raise ValueError(
                    f"unknown docmap column {col!r}; have {sorted(cols)}"
                )
            cond = arrow_predicate(col, val)
            flt = cond if flt is None else flt & cond
        ids = (
            self._docmap_dset()
            .to_table(columns=["doc_id"], filter=flt)
            .column("doc_id")
            .to_numpy()
        )
        return np.unique(ids.astype(np.int64))

    def feature_values(self, field: str) -> np.ndarray:
        """Dense float64 docmap column indexed by doc_id (NaN = id absent
        from the docmap) — the driver-side static-score source for A79
        rank_feature. One float per doc, the same driver-memory cost
        class as ``filter_doc_ids``'s allowlist; the cluster path
        (``search_rank_feature_distributed``) keeps the column as a
        distributed join instead. Cached per (reader, field)."""
        cache = getattr(self, "_feat_cache", None)
        if cache is None:
            cache = self._feat_cache = {}
        if field not in cache:
            if field not in self.docmap_columns():
                raise ValueError(
                    f"unknown docmap column {field!r}; "
                    f"have {sorted(self.docmap_columns())}"
                )
            tbl = self._docmap_dset().to_table(columns=["doc_id", field])
            ids = tbl.column("doc_id").to_numpy().astype(np.int64)
            vals = tbl.column(field).to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            arr = np.full(int(ids.max()) + 1 if ids.size else 0, np.nan)
            arr[ids] = vals
            cache[field] = arr
        return cache[field]

    def df_df(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_path}/df")

    def _term_dict(self):
        import pyarrow.dataset as pads

        if getattr(self, "_df_dset", None) is None:
            self._df_dset = pads.dataset(
                f"{self.index_path}/df", format="parquet"
            )
        return self._df_dset

    @staticmethod
    def _range_bound(flt, lit: str):
        """AND a statistics-prunable [lit, succ(lit)) range onto ``flt``
        when the last char has a clean successor (skipped at surrogate /
        plane edges; the caller's exact filter keeps correctness)."""
        import pyarrow.compute as pc

        f = pc.field("term")
        flt = flt & (f >= lit) if flt is not None else (f >= lit)
        last = ord(lit[-1])
        if last < 0xD7FF or 0xE000 <= last < 0x10FFFF:
            flt &= f < (lit[:-1] + chr(last + 1))
        return flt

    def expand_prefix(self, prefix: str, max_terms: int = 1024) -> list[str]:
        """All index terms matching ``prefix*``, from the sorted term
        dictionary (index/df) — driver-side pyarrow read, no Spark job.

        The range bound [prefix, next(prefix)) prunes to the files and
        row-groups whose term min/max statistics overlap (the dictionary
        is written term-sorted by the builder); ``starts_with`` makes the
        match exact. ``max_terms`` caps the scoring-boolean rewrite the
        caller will do — wider prefixes should be narrowed, not silently
        truncated.
        """
        if not prefix:
            raise ValueError("empty prefix")
        import pyarrow.compute as pc

        flt = self._range_bound(
            pc.starts_with(pc.field("term"), prefix), prefix
        )
        terms = sorted(
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        if len(terms) > max_terms:
            raise ValueError(
                f"prefix {prefix!r} expands to {len(terms)} terms "
                f"(max_terms={max_terms}); narrow the prefix"
            )
        return terms

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        max_terms: int = 1024,
        transpositions: bool = False,
    ) -> list[str]:
        """Vocabulary terms within ``max_edits`` Levenshtein distance of
        ``term`` (Lucene's ``term~`` fuzzy query). ``transpositions=True``
        counts an adjacent swap as ONE edit (OSA / restricted Damerau —
        ES's default ``fuzziness`` and Lucene's FuzzyQuery automata do the
        same), restricted to ``max_edits=1`` where OSA, full Damerau and
        the Lucene automaton all agree exactly (they can diverge at 2);
        the FastSS candidate set needs no change — every distance-1 pair,
        transpositions included, shares a deletion variant (swap xy/yx:
        delete either swapped char from both).

        Fast path (max_edits=1, ``index/fuzzy`` present — see
        ``writer.build_fuzzy_dictionary``): dist(q,t)<=1 iff their deletion
        neighborhoods intersect (FastSS), so the lookup is |q|+1
        statistics-pruned variant seeks into the sorted neighborhood table,
        then an exact DP verify of the handful of candidates — scales to
        1e9-term vocabularies.

        Fallback: a length band (|len - len(term)| <= max_edits) prefilters
        a columnar scan of the term dictionary; survivors go through a
        banded DP with Ukkonen early-exit. Fine for interactive use up to
        ~1e7-term vocabs. Distributed callers can use ``F.levenshtein``
        over ``df_df()`` instead (JVM-side).
        """
        if not term:
            raise ValueError("empty term")
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        if transpositions and max_edits > 1:
            raise ValueError(
                "transpositions=True supports max_edits<=1 only (OSA and "
                "full Damerau diverge at 2 — pin one before widening)"
            )
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if max_edits == 1 and os.path.isdir(f"{self.index_path}/fuzzy"):
            if getattr(self, "_fuzzy_dset", None) is None:
                self._fuzzy_dset = pads.dataset(
                    f"{self.index_path}/fuzzy", format="parquet"
                )
            variants = sorted(
                {term} | {term[:i] + term[i + 1 :] for i in range(len(term))}
            )
            cands = set(
                self._fuzzy_dset.to_table(
                    columns=["term"],
                    filter=pc.field("variant").isin(variants),
                )
                .column("term")
                .to_pylist()
            )
        else:
            n = len(term)
            length = pc.utf8_length(pc.field("term"))
            flt = (length >= n - max_edits) & (length <= n + max_edits)
            cands = self._term_dict().to_table(
                columns=["term"], filter=flt
            ).column("term").to_pylist()
        out = sorted(
            t
            for t in cands
            if _lev_within(term, t, max_edits, transpositions=transpositions)
        )
        if len(out) > max_terms:
            raise ValueError(
                f"fuzzy {term!r} (<= {max_edits} edits) expands to "
                f"{len(out)} terms (max_terms={max_terms})"
            )
        return out

    def chunk_dfs(self, terms) -> dict[str, int]:
        """Global df of each distinct query term present in this reader's
        view, in first-seen order: the terms index's sum of the term's
        ``df_chunk`` over exactly the chunk rows ``postings_df(terms)``
        scans, so it is exact per snapshot (``term_dfs`` reads one df table
        shared by every snapshot). Driver-side; no Spark job."""
        return self._locator.dfs(terms)

    def term_dfs(self, terms) -> dict[str, int]:
        """Document frequencies for a handful of terms — one pushed-down
        pyarrow seek into the sorted term dictionary (terms absent from
        the vocabulary are absent from the result)."""
        import pyarrow.compute as pc

        tbl = self._term_dict().to_table(
            columns=["term", "df"],
            filter=pc.field("term").isin(list(terms)),
        )
        return dict(
            zip(tbl.column("term").to_pylist(),
                (int(v) for v in tbl.column("df").to_pylist()))
        )

    def expand_term_range(
        self,
        lo: str,
        hi: str,
        include_lo: bool = True,
        include_hi: bool = True,
        max_terms: int = 1024,
    ) -> list[str]:
        """All index terms in the lexicographic range [lo, hi] (bounds
        optionally exclusive) — Lucene TermRangeQuery's rewrite source.
        The range predicate itself is the statistics prune: the dictionary
        is term-sorted, so only files/row-groups whose term min/max
        overlap [lo, hi] are read."""
        if not lo or not hi or lo > hi:
            raise ValueError("need lo <= hi, both non-empty")
        import pyarrow.compute as pc

        f = pc.field("term")
        flt = (f >= lo) if include_lo else (f > lo)
        flt &= (f <= hi) if include_hi else (f < hi)
        terms = sorted(
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        if len(terms) > max_terms:
            raise ValueError(
                f"range [{lo!r}, {hi!r}] expands to {len(terms)} terms "
                f"(> max_terms={max_terms}); narrow the range"
            )
        return terms

    def expand_regex(self, pattern: str, max_terms: int = 1024) -> list[str]:
        """Vocabulary terms fully matching ``pattern`` (grep-style code
        search). The pattern's longest LITERAL prefix (chars before the
        first regex metacharacter) prunes the sorted dictionary exactly
        like a prefix query; survivors go through ``re.fullmatch``. A
        pattern with no literal prefix scans the (columnar) dictionary —
        the same bound every grep-style engine has."""
        import re as _re

        if not pattern:
            raise ValueError("empty pattern")
        rx = _re.compile(pattern)
        meta = set(".^$*+?()[]{}|\\")
        lit = ""
        for ch in pattern:
            if ch in meta:
                break
            lit += ch
        # a quantifier after the last literal char makes that char optional
        # ('slow?' matches 'slo'); a top-level alternation can bypass the
        # prefix entirely ('sort|slow') — in both cases the naive prefix
        # would silently PRUNE true matches
        if lit and len(lit) < len(pattern) and pattern[len(lit)] in "?*{":
            lit = lit[:-1]
        if "|" in pattern:
            lit = ""
        flt = self._range_bound(None, lit) if lit else None
        cands = (
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        out = sorted(t for t in cands if rx.fullmatch(t))
        if len(out) > max_terms:
            raise ValueError(
                f"regex {pattern!r} matches {len(out)} terms "
                f"(max_terms={max_terms}); narrow the pattern"
            )
        return out

    # ------------------------------------------------------- driver fetch --
    def fetch_terms(
        self, terms: list[str], with_positions: bool = False
    ) -> dict[str, TermPostings]:
        """Fetch the chunk rows of the query terms WITHOUT a Spark job: a
        lookup through the reader's terms index (``_TermLocator``) into the
        chunk rows it holds resident. The first fetch that needs a row reads
        its parquet row group, takes and materialises the missed rows once;
        every later fetch only looks rows up and wraps them in fresh
        ``TermPostings``. At most ``_RESIDENT_BYTES`` of rows stay resident
        per reader (the Python and numpy bytes they keep alive), evicting
        the rows loaded first. The rows are a point-in-time view, shared between
        calls and never mutated.
        This is the low-latency serving path. The same path serves the
        directory and the snapshot layouts; only the file list of a
        ``term_pref`` partition differs. Use
        plans.search.search_distributed when a query's chunk rows are too
        big to hold on one node.

        Duplicate terms yield one row set each; terms absent from the index
        are absent from the result. ``with_positions`` adds the
        ``pos_blob`` column (rows materialised separately); every other
        query skips those bytes entirely (columnar pruning).
        """
        out: dict[str, TermPostings] = {}
        for r in self._locator.rows(terms, with_positions):
            tp = out.get(r["term"])
            if tp is None:
                tp = out[r["term"]] = TermPostings(term=r["term"], df=0.0, idf=0.0)
            tp.chunks.append(r)
            tp.df += r["df_chunk"]
        for tp in out.values():
            tp.idf = float(bm25.idf_np(tp.df, float(self.n_docs)))
        return out

    def decode_term(self, tp: TermPostings, with_positions: bool = False):
        """Full decode of a term's chunk rows -> int64 ``(docids, tfs, dls)``
        in doc order, plus ``pos`` when ``with_positions``: the flat absolute
        positions, each posting's ``tf`` of them in posting order (``tp``
        fetched with ``with_positions=True``). Every driver path that reads
        whole postings lists decodes them here."""
        from miru_spark.index.format import unpack_chunk_bm, unpack_positions

        parts = []
        for r in tp.chunks:
            ids, tfs, dls = unpack_chunk_bm(r["blob"], r["bm"], int(r["codec"]))
            pos = (unpack_positions(r["pos_blob"], tfs),) if with_positions else ()
            parts.append((ids, tfs, dls, *pos))
        if not parts:
            return tuple(np.empty(0, np.int64) for _ in range(3 + with_positions))
        return tuple(np.concatenate(col, dtype=np.int64) for col in zip(*parts))
