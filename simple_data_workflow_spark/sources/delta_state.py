"""Arrow-backed Delta snapshot state (round 13, VERDICT r12 #1).

Before this module, snapshot resolution collected every checkpoint
``add`` action into driver-side Python dicts (``{path: add-dict}``)
— boxed memory ∝ file count, rebuilt per snapshot op. At the 100 TB
posture (10^5–10^6 data files) that is hundreds of MB to GBs of
PyObject overhead for state a real runtime keeps columnar.

This module keeps the live ``add`` set as ONE pyarrow Table end-to-end:

- checkpoint seeding reads the checkpoint parquet **directly with
  pyarrow** (classic single-file, classic multipart, and V2
  manifest + sidecar layouts) — no Spark job, no ``Row`` boxing;
- the JSON commit tail (small by construction — that is what
  checkpoints are for) parses into one Arrow batch;
- last-writer-wins resolution (re-adds, removes) runs as a vectorized
  ``group_by(path).max(seq)`` + hash join in Acero, not a Python loop;
- consumers that genuinely need per-file dicts (clone/restore/
  checkpoint republish — operations whose OUTPUT is per-file actions
  anyway) go through :class:`AddsView`, a read-only ``Mapping`` that
  boxes ONE add at a time and never materializes the whole map.

Public protocol references: delta.io PROTOCOL.md (add/remove actions,
checkpoint schema, V2 checkpoint spec). No Delta jar involved.
"""

from __future__ import annotations

import json
from collections.abc import Mapping

import pyarrow as pa
import pyarrow.compute as pc

from simple_data_workflow_spark.sources import tablefs

_KV = pa.map_(pa.string(), pa.string())
_DV_FIELDS = (
    ("storageType", pa.string()),
    ("pathOrInlineDv", pa.string()),
    ("offset", pa.int32()),
    ("sizeInBytes", pa.int32()),
    ("cardinality", pa.int64()),
)
_DV_T = pa.struct([pa.field(n, t) for n, t in _DV_FIELDS])

#: columns every add row carries; anything else round-trips via `extra`
ADDS_SCHEMA = pa.schema(
    [
        pa.field("path", pa.string()),
        pa.field("partitionValues", _KV),
        pa.field("size", pa.int64()),
        pa.field("modificationTime", pa.int64()),
        pa.field("dataChange", pa.bool_()),
        pa.field("stats", pa.string()),
        pa.field("deletionVector", _DV_T),
        pa.field("extra", pa.string()),
    ]
)
_TYPED = {f.name for f in ADDS_SCHEMA} - {"extra"}
_DV_KEYS = tuple(n for n, _t in _DV_FIELDS)

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _empty_adds() -> pa.Table:
    return ADDS_SCHEMA.empty_table()


def _add_to_row(a: dict) -> dict:
    """One JSON-commit ``add`` action → a typed row dict."""
    dv = a.get("deletionVector")
    extra = {k: v for k, v in a.items() if k not in _TYPED}
    return {
        "path": a["path"],
        "partitionValues": a.get("partitionValues"),
        "size": a.get("size"),
        "modificationTime": a.get("modificationTime"),
        "dataChange": a.get("dataChange"),
        "stats": a.get("stats"),
        "deletionVector": (
            {k: dv.get(k) for k in _DV_KEYS} if dv is not None else None
        ),
        "extra": json.dumps(extra, sort_keys=True) if extra else None,
    }


def _row_to_add(row: dict) -> dict:
    """Typed row dict (``Table.to_pylist`` shape — map columns arrive
    as ``[(k, v), ...]`` pair lists) → the original add-action dict
    (Nones dropped, ``extra`` JSON merged back)."""
    out: dict = {"path": row["path"]}
    pv = row.get("partitionValues")
    if pv is not None:
        out["partitionValues"] = dict(pv)
    for k in ("size", "modificationTime", "dataChange", "stats"):
        v = row.get(k)
        if v is not None:
            out[k] = v
    dv = row.get("deletionVector")
    if dv is not None:
        dvd = {k: v for k, v in dv.items() if v is not None}
        if dvd:
            out["deletionVector"] = dvd
    if row.get("extra"):
        out.update(json.loads(row["extra"]))
    return out


class AddsView(Mapping):
    """Read-only ``{relpath: add-dict}`` view over the Arrow add table.

    Iteration / ``items()`` stream batch-wise and box ONE add at a
    time; random access builds a ``{path: row}`` index lazily (str→int
    — an order of magnitude lighter than the old dict-of-dicts, and
    only paid by callers that actually random-access)."""

    __slots__ = ("_t", "_idx")

    def __init__(self, table: pa.Table):
        self._t = table
        self._idx: dict | None = None

    @property
    def arrow(self) -> pa.Table:
        return self._t

    def _index(self) -> dict:
        if self._idx is None:
            self._idx = {
                p: i
                for i, p in enumerate(self._t.column("path").to_pylist())
            }
        return self._idx

    def __len__(self) -> int:
        return self._t.num_rows

    def __iter__(self):
        col = self._t.column("path")
        for chunk in col.chunks if isinstance(col, pa.ChunkedArray) else [col]:
            yield from chunk.to_pylist()

    def __contains__(self, key) -> bool:
        return key in self._index()

    def __getitem__(self, key) -> dict:
        i = self._index().get(key)
        if i is None:
            raise KeyError(key)
        return _row_to_add(self._t.slice(i, 1).to_pylist()[0])

    def items(self):
        # batch-wise: one pylist batch in flight, never the whole map
        for batch in self._t.to_batches(max_chunksize=8192):
            for row in batch.to_pylist():
                yield row["path"], _row_to_add(row)

    def stats_json(self, key: str) -> str | None:
        """The add's ``stats`` JSON without boxing the whole add."""
        i = self._index().get(key)
        if i is None:
            return None
        return self._t.column("stats")[i].as_py()


def _scrub(d: dict | None) -> dict | None:
    if d is None:
        return None
    return {k: v for k, v in d.items() if v is not None}


def _pa_read_parquet(paths: list[str], columns=None) -> pa.Table:
    """Read log parquet (checkpoint / manifest / sidecar) directly with
    pyarrow — local paths and ``file:`` URIs via the local FS, other
    schemes through ``pyarrow.fs`` (the object-store posture needs no
    JVM round-trip for metadata either)."""
    import pyarrow.parquet as pq

    import urllib.parse as _up

    def split(p: str):
        if p.startswith("file:"):
            return None, _up.urlparse(p).path
        if "://" in p:
            from pyarrow import fs as pafs

            f, rel = pafs.FileSystem.from_uri(p)
            return f, rel
        return None, p

    tables = []
    for p in sorted(paths):
        f, rel = split(p)
        tables.append(
            pq.read_table(rel, columns=columns, filesystem=f)
        )
    return tables[0] if len(tables) == 1 else pa.concat_tables(
        tables, promote_options="permissive"
    )


def _normalize_checkpoint_adds(col: pa.ChunkedArray | pa.Array) -> pa.Table:
    """The checkpoint's ``add`` struct column → an ``ADDS_SCHEMA``
    table (rows where ``add`` is null dropped), all-columnar: children
    picked by name, missing children null-filled, unknown children
    (tags / baseRowId / ...) serialized into ``extra`` only when any
    value is actually present."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    sa = col.filter(pc.is_valid(col))
    n = len(sa)
    have = {f.name: i for i, f in enumerate(sa.type)}

    def child(name: str, typ: pa.DataType) -> pa.Array:
        if name not in have:
            return pa.nulls(n, typ)
        c = sa.field(name)
        if c.type.equals(typ):
            return c
        if name == "deletionVector":
            # rebuild by FIELD NAME (struct cast is positional)
            dv_have = {f.name for f in c.type}
            kids = [
                c.field(fn).cast(ft)
                if fn in dv_have
                else pa.nulls(len(c), ft)
                for fn, ft in _DV_FIELDS
            ]
            return pa.StructArray.from_arrays(
                kids, names=list(_DV_KEYS), mask=pc.is_null(c)
            )
        return c.cast(typ)

    cols = {
        f.name: child(f.name, f.type)
        for f in ADDS_SCHEMA
        if f.name != "extra"
    }
    extras = [fn for fn in have if fn not in _TYPED]
    extra_col = pa.nulls(n, pa.string())
    if extras:
        live = [
            fn
            for fn in extras
            if pc.any(pc.is_valid(sa.field(fn))).as_py()
        ]
        if live:
            # rare (foreign checkpoints with tags/rowId fields): box
            # only those columns, not the whole add
            mats = {fn: sa.field(fn).to_pylist() for fn in live}
            extra_col = pa.array(
                [
                    (
                        json.dumps(d, sort_keys=True, default=str)
                        if (
                            d := {
                                fn: mats[fn][i]
                                for fn in live
                                if mats[fn][i] is not None
                            }
                        )
                        else None
                    )
                    for i in range(n)
                ],
                pa.string(),
            )
    cols["extra"] = extra_col
    return pa.table(cols, schema=ADDS_SCHEMA)


def _checkpoint_state(spark, parts: list[str]):
    """Seed state from a checkpoint: ``(adds table, meta, proto,
    txns)``. Handles classic single/multipart parquet and the V2
    manifest (parquet or JSON) + ``_sidecars/`` layout."""

    def _is_classic(name: str) -> bool:
        rest = name.split(".checkpoint.", 1)[1]
        segs = rest.split(".")
        return rest == "parquet" or (
            len(segs) == 3
            and segs[0].isdigit()
            and segs[1].isdigit()
            and segs[2] == "parquet"
        )

    classic = [p for p in parts if _is_classic(p.rsplit("/", 1)[1])]
    meta = proto = None
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    adds_tables: list[pa.Table] = []
    head_actions: list[dict] = []
    sidecars: list[str] = []
    if classic:
        tbls = [_pa_read_parquet(classic)]
    else:
        manifest = sorted(parts)[0]
        log_dir = manifest.rsplit("/", 1)[0]
        if manifest.endswith(".json"):
            head_actions = [
                json.loads(line)
                for line in tablefs.read_file(spark, manifest)
                .decode("utf-8")
                .splitlines()
                if line.strip()
            ]
            sidecars = [
                a["sidecar"]["path"] for a in head_actions if "sidecar" in a
            ]
            tbls = []
        else:
            m = _pa_read_parquet([manifest])
            tbls = [m]
            if "sidecar" in m.column_names:
                sc = m.column("sidecar")
                if isinstance(sc, pa.ChunkedArray):
                    sc = sc.combine_chunks()
                sc = sc.filter(pc.is_valid(sc))
                sidecars = [s["path"] for s in sc.to_pylist()]
        paths = [
            s
            if "://" in s or s.startswith(("/", "file:"))
            else f"{log_dir}/_sidecars/{s}"
            for s in sidecars
        ]
        if paths:
            tbls.append(_pa_read_parquet(paths))
    for a in head_actions:
        if a.get("metaData"):
            meta = _scrub(a["metaData"])
        elif a.get("protocol"):
            proto = _scrub(a["protocol"])
        elif a.get("add"):
            adds_tables.append(
                pa.Table.from_pylist(
                    [_add_to_row(a["add"])], schema=ADDS_SCHEMA
                )
            )
        elif a.get("txn") and a["txn"].get("appId"):
            txns[a["txn"]["appId"]] = int(a["txn"]["version"])
        elif a.get("domainMetadata") and a["domainMetadata"].get("domain"):
            domains[a["domainMetadata"]["domain"]] = a["domainMetadata"]
    def _valid_rows(t, name):
        col = t.column(name)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        return col.filter(pc.is_valid(col)).to_pylist()

    for t in tbls:
        names = set(t.column_names)
        if "metaData" in names:
            for r in _valid_rows(t, "metaData"):
                m = _scrub(r)
                if m and m.get("configuration") is not None and not isinstance(
                    m["configuration"], dict
                ):
                    m["configuration"] = dict(m["configuration"])
                if m and m.get("format") is not None:
                    f = dict(m["format"])
                    if f.get("options") is not None and not isinstance(
                        f["options"], dict
                    ):
                        f["options"] = dict(f["options"])
                    m["format"] = {
                        k: v for k, v in f.items() if v is not None
                    }
                meta = m
        if "protocol" in names:
            for r in _valid_rows(t, "protocol"):
                proto = _scrub(r)
        if "txn" in names:
            for r in _valid_rows(t, "txn"):
                if r.get("appId") is not None and r.get("version") is not None:
                    txns[r["appId"]] = int(r["version"])
        if "domainMetadata" in names:
            for r in _valid_rows(t, "domainMetadata"):
                d = _scrub(r)
                if d and d.get("domain") is not None:
                    domains[d["domain"]] = d
        if "add" in names:
            adds_tables.append(_normalize_checkpoint_adds(t.column("add")))
    adds = (
        pa.concat_tables(adds_tables) if adds_tables else _empty_adds()
    )
    return adds, meta, proto, txns, domains


def _resolve_live(
    base: pa.Table,
    tail_adds: list[dict],
    tail_removes: list[tuple[str, int]],
) -> pa.Table:
    """Last-writer-wins over (checkpoint base ∪ JSON tail): every event
    carries a global sequence number; per path the max-seq event wins;
    the path is live iff the winner is an add. One vectorized group_by
    + hash join — no Python loop over files."""
    if not tail_adds and not tail_removes:
        return base
    pieces = []
    if base.num_rows:
        pieces.append(
            base.append_column(
                "__seq", pa.array([0] * base.num_rows, pa.int64())
            ).append_column(
                "__is_add", pa.array([True] * base.num_rows, pa.bool_())
            )
        )
    if tail_adds:
        t = pa.Table.from_pylist(
            [r for r, _s in tail_adds], schema=ADDS_SCHEMA
        )
        t = t.append_column(
            "__seq", pa.array([s for _r, s in tail_adds], pa.int64())
        ).append_column(
            "__is_add", pa.array([True] * len(tail_adds), pa.bool_())
        )
        pieces.append(t)
    if tail_removes:
        n = len(tail_removes)
        cols = {
            "path": pa.array([p for p, _s in tail_removes], pa.string()),
        }
        for f in ADDS_SCHEMA:
            if f.name != "path":
                cols[f.name] = pa.nulls(n, f.type)
        t = pa.table(cols, schema=ADDS_SCHEMA)
        t = t.append_column(
            "__seq", pa.array([s for _p, s in tail_removes], pa.int64())
        ).append_column("__is_add", pa.array([False] * n, pa.bool_()))
        pieces.append(t)
    ev = pa.concat_tables(pieces)
    winners = (
        ev.select(["path", "__seq"])
        .group_by("path")
        .aggregate([("__seq", "max")])
        .rename_columns(["path", "__seq"])
    )
    # join KEYS + row index only (Acero refuses map-typed payload
    # columns), then take() the winning add rows from the full table
    evk = ev.select(["path", "__seq", "__is_add"]).append_column(
        "__i", pa.array(range(ev.num_rows), pa.int64())
    )
    hit = evk.join(winners, keys=["path", "__seq"], join_type="inner")
    idx = hit.filter(pc.field("__is_add")).column("__i")
    live = ev.take(idx.combine_chunks())
    return live.drop_columns(["__seq", "__is_add"]).select(
        [f.name for f in ADDS_SCHEMA]
    )


class DeltaSnapshot:
    """A resolved snapshot: live adds as ONE Arrow table plus the
    metadata-sized scalars (meta / protocol / version / txns /
    domainMetadata)."""

    __slots__ = (
        "adds", "meta", "proto", "version", "txns", "root", "domains"
    )

    def __init__(self, adds, meta, proto, version, txns, root,
                 domains=None):
        self.adds = adds
        self.meta = meta
        self.proto = proto
        self.version = version
        self.txns = txns
        self.root = root
        # {domain name: latest domainMetadata action dict} — the spec
        # requires writers to PRESERVE domain metadata for domains they
        # do not own; checkpoints must carry the latest per domain
        self.domains = domains or {}

    def adds_view(self) -> AddsView:
        return AddsView(self.adds)

    # -- vectorized derivations -------------------------------------

    def full_paths(self) -> pa.Array:
        """Per-row RESOLVED paths: percent-decoded (spec: add paths
        are URL-encoded), absolute/scheme'd pass through, relative
        join under the table root. The no-``%`` common case never
        leaves Arrow."""
        import urllib.parse as _up

        paths = self.adds.column("path")
        if isinstance(paths, pa.ChunkedArray):
            paths = paths.combine_chunks()
        if len(paths) and pc.any(
            pc.match_substring(paths, "%")
        ).as_py():
            paths = pa.array(
                [_up.unquote(p) for p in paths.to_pylist()], pa.string()
            )
        if not len(paths):
            return paths
        is_abs = pc.or_(
            pc.or_(pc.match_substring(paths, "://"), pc.starts_with(paths, "/")),
            pc.starts_with(paths, "file:"),
        )
        rooted = pc.binary_join_element_wise(
            pa.scalar(self.root, pa.string()), paths, "/"
        )
        return pc.if_else(is_abs, paths, rooted)

    def pv_column(self, logical: str, physical: str | None = None) -> pa.Array:
        """Per-row partition value for one column (physical-name key
        first — mapped tables key partitionValues physically — logical
        fallback), ``__HIVE_DEFAULT_PARTITION__`` normalized to null."""
        col = self.adds.column("partitionValues")
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if not len(col):
            return pa.array([], pa.string())
        v = pc.map_lookup(
            col, query_key=physical or logical, occurrence="last"
        )
        if physical and physical != logical:
            v = pc.coalesce(
                v, pc.map_lookup(col, query_key=logical, occurrence="last")
            )
        return pc.if_else(
            pc.equal(v, _NULL_PARTITION), pa.scalar(None, pa.string()), v
        )

    def dv_dict(self, full: pa.Array | None = None) -> dict:
        """``{resolved path: deletionVector descriptor}`` — only rows
        that HAVE a DV box (typically a small fraction)."""
        dv = self.adds.column("deletionVector")
        if isinstance(dv, pa.ChunkedArray):
            dv = dv.combine_chunks()
        if not self.adds.num_rows:
            return {}
        mask = pc.is_valid(dv)
        if not pc.any(mask).as_py():
            return {}
        full = self.full_paths() if full is None else full
        out = {}
        for f, d in zip(
            full.filter(mask).to_pylist(), dv.filter(mask).to_pylist()
        ):
            out[f] = {k: v for k, v in d.items() if v is not None}
        return out

    def files_dict(self, full: pa.Array | None = None) -> dict:
        """Legacy ``{resolved path: partitionValues}`` map — for
        maintenance ops whose OUTPUT is per-file anyway (DML staging,
        OPTIMIZE, VACUUM). Transient per call; the retained state stays
        Arrow."""
        full = self.full_paths() if full is None else full
        pvs = self.adds.column("partitionValues").to_pylist()
        return {
            f: (dict(pv) if pv else {})
            for f, pv in zip(full.to_pylist(), pvs)
        }

    def partition_groups(
        self, part_cols: list[str], part_phys: dict[str, str] | None = None
    ) -> list[tuple[tuple, list[str]]]:
        """``[(partition-value tuple, [resolved paths])]`` — grouped in
        Acero; Python objects ∝ GROUPS + path strings (which the scan
        needs regardless), never per-file dicts."""
        full = self.full_paths()
        if not len(full):
            return []
        part_phys = part_phys or {}
        cols = {"__full": full}
        for i, c in enumerate(part_cols):
            cols[f"__k{i}"] = self.pv_column(c, part_phys.get(c))
        grouped = (
            pa.table(cols)
            .group_by([f"__k{i}" for i in range(len(part_cols))])
            .aggregate([("__full", "list")])
        )
        out = []
        for row in grouped.to_pylist():
            key = tuple(row[f"__k{i}"] for i in range(len(part_cols)))
            out.append((key, row["__full_list"]))
        return out


def replay_snapshot(spark, path: str, version: int | None = None) -> DeltaSnapshot:
    """Arrow-native snapshot resolution: seed from the newest
    checkpoint ≤ target (pyarrow read — no Spark job, no Row boxing),
    replay the JSON tail, resolve last-wins vectorized."""
    from simple_data_workflow_spark.sources.delta_reader import _list_log

    commits, cps = _list_log(spark, path)
    if not commits and not cps:
        raise FileNotFoundError(f"empty _delta_log under {path}")
    target = max([*commits, *cps]) if version is None else int(version)
    meta = proto = None
    txns: dict[str, int] = {}
    domains: dict[str, dict] = {}
    base = _empty_adds()
    cp_versions = [v for v in cps if v <= target]
    start = 0
    if cp_versions:
        cp_v = max(cp_versions)
        base, meta, proto, txns, domains = _checkpoint_state(
            spark, sorted(cps[cp_v])
        )
        start = cp_v + 1
    tail_adds: list[tuple[dict, int]] = []
    tail_removes: list[tuple[str, int]] = []
    seq = 0
    for v in [c for c in commits if start <= c <= target]:
        raw = tablefs.read_file(
            spark, f"{path}/_delta_log/{v:020d}.json"
        ).decode("utf-8")
        for line in raw.splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                proto = action["protocol"]
            elif "add" in action:
                seq += 1
                tail_adds.append((_add_to_row(action["add"]), seq))
            elif "remove" in action:
                seq += 1
                tail_removes.append((action["remove"]["path"], seq))
            elif "txn" in action:
                t = action["txn"]
                if t.get("appId") is not None:
                    txns[t["appId"]] = int(t["version"])
            elif "domainMetadata" in action:
                d = action["domainMetadata"]
                if d.get("domain") is not None:
                    domains[d["domain"]] = d
    adds = _resolve_live(base, tail_adds, tail_removes)
    return DeltaSnapshot(adds, meta, proto, target, txns, path, domains)
