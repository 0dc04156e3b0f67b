"""Minimal versioned-table layer: time travel + atomic commits +
optimistic multi-writer concurrency on plain parquet, closing the gap
the missing Delta/Iceberg jars leave.

The reference upserts into one mutable PostgreSQL table and serializes
concurrent upserts via row locks (``Services/OpcSubscribeService.cs:608-612``);
a Spark deployment wants MERGE with snapshot isolation. Without a
table-format jar in the environment, this module provides the smallest
layout that gives the load-bearing guarantees:

- **Immutable versions**: every commit writes a fresh parquet directory
  ``data/v{N}-{token}/`` plus a manifest ``_versions/v{N}.json``;
  nothing is ever rewritten in place. The per-attempt ``token`` keeps
  two concurrent writers from ever sharing a data directory.
- **Atomic commit point (manifest CAS)**: a version is committed the
  instant its manifest file is created, and creation is a true
  compare-and-swap — the manifest is fully written to a temp file and
  then ``os.link``ed to ``_versions/v{N}.json``. ``link`` is atomic and
  fails with EEXIST if another writer claimed N first, so exactly one
  writer wins each version, the chain of parents is linear, and a
  manifest can never exist half-written. Data is durable strictly
  BEFORE the claim, so any visible manifest points at complete data.
- **Multi-writer MERGE**: ``commit_merge`` runs an optimistic loop —
  read the latest snapshot, apply the caller's merge function, attempt
  the CAS; on losing the race it REBASES by re-reading the new snapshot
  and re-running the merge (the equivalent of the reference's row-lock
  retry). Two interleaved writers both commit; neither update is lost.
- **Time travel**: ``read_version(spark, root, version=k)`` reads any
  retained snapshot; the manifest records the parent version so history
  is a chain.
- **Crash safety**: a crash before the manifest claim leaves an orphan
  data directory (invisible, reclaimed by ``vacuum``); a crash after
  the claim leaves a fully committed version. ``_latest`` is kept as an
  advisory cache for external tooling, but visibility derives from the
  manifest directory alone — a stale or torn pointer cannot tear reads.

- **Append-structured commits**: ``commit_append`` writes only the new
  rows and publishes a manifest listing the parent's data directories
  plus the new tail — O(batch) write amplification for append-only
  workloads, with ``vacuum`` reclaiming a shared directory only when no
  retained manifest references it.

At 100 TB the same layout holds: the manifest is one small JSON per
commit, the CAS is one metadata link on the (driver-local or
object-store-locked) manifest path, and data directories are written by
the cluster in parallel. This is the same commit protocol shape as
Delta's ``_delta_log/N.json`` mutual-exclusion write (add-file entries
included, via the append form), minus file-level deletes and compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def _versions_dir(root: str) -> str:
    return os.path.join(root, "_versions")


def _pointer_path(root: str) -> str:
    return os.path.join(root, "_latest")


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_versions_dir(root), f"v{version:05d}.json")


def latest_version(root: str) -> int | None:
    """The newest committed version, or None for an empty table.
    Derived from the manifest directory — the set of committed versions —
    never from the advisory ``_latest`` pointer: manifests are created
    atomically with complete contents, so this can't observe a torn
    commit. Orphan data dirs from crashed commits are invisible."""
    vdir = _versions_dir(root)
    try:
        names = os.listdir(vdir)
    except FileNotFoundError:
        return None
    versions = [
        int(n[1:-5]) for n in names
        if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions) if versions else None


# Manifest app keys the table layer itself interprets. ``data_identical``
# makes table_changes serve a range spanning the commit as pass-through
# (zero data changes), so a stray copy on a data-CHANGING commit would
# silently drop those changes from every change feed. Only compact()/
# maybe_compact() may set it; every public commit path strips it from
# caller-supplied app dicts.
_RESERVED_APP_KEYS = frozenset({"data_identical"})


def _now() -> float:
    """Commit wall-clock (seconds since epoch), recorded as ``ts`` in
    every manifest for timestamp time travel. A module-level hook so
    tests can inject deterministic clocks. Like Delta's file-timestamp
    AS OF: wall clocks can regress across writers, so ``version_as_of``
    resolves to the HIGHEST version whose ts <= target."""
    return time.time()


def _scrub_app(app: dict | None) -> dict:
    """Caller-supplied manifest metadata with the layer's reserved keys
    removed (see ``_RESERVED_APP_KEYS``)."""
    return {k: v for k, v in (app or {}).items() if k not in _RESERVED_APP_KEYS}


def _colmap(manifest: dict) -> dict:
    """COLUMN MAPPING (Delta's column-mapping ``name`` mode, round 11):
    ``{logical_name: physical_name}``, identity entries omitted. Data
    files ALWAYS store physical names — a column's physical name is
    fixed at its first commit and never changes — so ``rename_column``
    is a metadata-only commit and every file ever written stays
    readable. The layer's internals (footer stats, blooms, sums, DV
    addressing, raw directory reads) operate entirely in PHYSICAL
    space; translation happens exactly at the API boundary
    (``read_version`` output, commit inputs, predicates, prune keys)."""
    return dict(manifest.get("colmap") or {})


def _physicalize(df: DataFrame, manifest: "dict | None") -> DataFrame:
    """Rename a LOGICAL user frame to physical column names just before
    its files are written. Columns outside the mapping pass through."""
    cm = _colmap(manifest) if manifest else {}
    if not cm:
        return df
    out = [cm.get(c, c) for c in df.columns]
    if len(set(out)) != len(out):
        raise ValueError(
            f"column collision under the table's column mapping {cm}: "
            f"{df.columns} maps to {out} — a frame may not carry both a "
            "renamed column and a new column named like its physical slot"
        )
    return df.select(
        *[F.col(c).alias(p) for c, p in zip(df.columns, out)]
    )


def _retired(manifest: "dict | None") -> set:
    """Physical column slots of METADATA-DROPPED columns — still present
    in files written before the drop, permanently off-limits to new
    columns (a re-added logical name gets a fresh physical slot via the
    column mapping), and projected away by every logical read."""
    return set((manifest or {}).get("retired") or [])


def _logicalize(df: DataFrame, manifest: "dict | None") -> DataFrame:
    """Rename a PHYSICAL frame (just read from data files) to the
    manifest's logical column names, dropping retired (metadata-
    deleted) slots. Non-data columns (``_dv_path``, join keys added
    downstream) pass through untouched."""
    cm = _colmap(manifest) if manifest else {}
    gone = _retired(manifest)
    if not cm and not gone:
        return df
    p2l = {p: l for l, p in cm.items()}
    return df.select(
        *[
            F.col(c).alias(p2l.get(c, c))
            for c in df.columns
            if c not in gone
        ]
    )


def _physical_schema_json(manifest: dict) -> dict:
    """The manifest's schema with fields renamed to their PHYSICAL
    names — the schema the data files actually carry."""
    cm = _colmap(manifest)
    if not cm:
        return manifest["schema"]
    return dict(
        manifest["schema"],
        fields=[
            dict(f_, name=cm.get(f_["name"], f_["name"]))
            for f_ in manifest["schema"]["fields"]
        ],
    )


def _read_data(spark: SparkSession, manifest: dict, paths: list) -> DataFrame:
    """Direct parquet read of data directories under ``manifest``, with
    the read schema ALWAYS passed explicitly (round 13, guide §6): the
    manifest is the schema authority — evolved tables resolve files by
    name against the union schema, non-evolved tables read the
    committing frame's physical schema verbatim. Spark then skips the
    footer-sampling schema-inference job it otherwise runs before every
    scan — one fewer driver round-trip (and footer listing pass) per
    table read, on every read path of the layer."""
    from pyspark.sql.types import StructType

    if manifest.get("evolved"):
        return spark.read.schema(_evolved_read_schema(manifest)).parquet(
            *paths
        )
    return spark.read.schema(
        StructType.fromJson(_physical_schema_json(manifest))
    ).parquet(*paths)


def _physical_names(manifest: dict, cols) -> list:
    """Translate logical column names to physical for footer/stats/
    bloom/sums lookups. Unknown names pass through (callers validate
    against the logical schema where it matters)."""
    cm = _colmap(manifest)
    return [cm.get(c, c) for c in cols]


def _dump_manifest(manifest: dict, f, root: str) -> None:
    """The single choke point every commit path serializes its manifest
    through: carry the PARENT's constraint set and column mapping into
    the child unless the commit sets its own (``add_constraint``/
    ``drop_constraint``/``rename_column``) — Delta's metadata-in-the-log
    discipline, so metadata changes ride the CAS chain and serialize
    with data commits. The inherited column mapping is filtered to the
    child's schema (a full-replace commit that drops a renamed column
    drops its mapping entry with it)."""
    parent = manifest.get("parent")
    pm: "dict | None" = None
    if parent is not None and (
        "constraints" not in manifest
        or "colmap" not in manifest
        or "retired" not in manifest
    ):
        with open(_manifest_path(root, parent)) as pf:
            pm = json.load(pf)
    if "constraints" not in manifest:
        if pm is not None and "constraints" in pm:
            manifest["constraints"] = pm["constraints"]
        else:
            legacy = _legacy_constraints(root)
            if legacy:
                manifest["constraints"] = legacy
    if "colmap" not in manifest and pm is not None:
        inherited = _colmap(pm)
        if inherited:
            names = {f_["name"] for f_ in manifest["schema"]["fields"]}
            kept = {l: p for l, p in inherited.items() if l in names}
            if kept:
                manifest["colmap"] = kept
    if "retired" not in manifest and pm is not None and pm.get("retired"):
        # retired physical slots carry VERBATIM forever: any retained
        # manifest may still reference files that hold them, and the
        # cost of a permanent tombstone is one string per dropped column
        manifest["retired"] = pm["retired"]
    json.dump(manifest, f)


def _constraints_path(root: str) -> str:
    return os.path.join(root, "_constraints.json")


def _legacy_constraints_head(root: str) -> "tuple[int | None, dict]":
    """(generation, set) of the pre-v0 side-file constraint store.
    Since round 12 the side file is a CAS chain of create-exclusive
    ``_constraints.json.g{N}`` files (the previous ``os.replace``
    publish was last-wins: two concurrent pre-v0 ADDs could silently
    drop one — round-11 ADVICE). The highest generation wins; the
    unversioned ``_constraints.json`` written by older rounds is read
    as generation ``None`` (before g0) so existing tables keep their
    constraints."""
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return None, {}
    gens = []
    for n in names:
        if n.startswith("_constraints.json.g"):
            tail = n[len("_constraints.json.g"):]
            if tail.isdigit():
                gens.append(int(tail))
    if gens:
        g = max(gens)
        with open(os.path.join(root, f"_constraints.json.g{g}")) as f:
            return g, json.load(f)
    try:
        with open(_constraints_path(root)) as f:
            return None, json.load(f)
    except FileNotFoundError:
        return None, {}


def _legacy_constraints(root: str) -> dict:
    """The pre-v0 side-file constraint store — written for tables with
    NO committed version yet (there is no manifest to carry the set),
    and read as the fallback for manifests that predate the in-chain
    ``constraints`` key."""
    return _legacy_constraints_head(root)[1]


def _legacy_constraints_cas(root: str, gen: "int | None", cons: dict) -> bool:
    """One optimistic publish of the pre-v0 constraint set on top of
    generation ``gen``: create-exclusive ``os.link`` to the next
    generation file. Returns False if another writer claimed that
    generation first (caller re-reads and re-merges)."""
    new_gen = 0 if gen is None else gen + 1
    target = os.path.join(root, f"_constraints.json.g{new_gen}")
    tmp = f"{target}.{uuid.uuid4().hex[:8]}.tmp"
    os.makedirs(root, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(cons, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)  # the CAS: atomic, complete-or-absent
    except FileExistsError:
        os.unlink(tmp)
        return False
    os.unlink(tmp)
    return True


def table_constraints(root: str, version: "int | None" = None) -> dict:
    """The table's CHECK constraints: ``{name: sql_expr}``. Table
    PROPERTIES with Delta's metadata-in-the-log discipline (round 11):
    the set rides IN the manifest CAS chain, so ADD/DROP serialize with
    data commits and every writer re-probes against the constraint set
    of the exact parent it rebases onto. A manifest carrying the
    ``constraints`` key (even empty) is authoritative; older manifests
    fall back to the legacy side file. A RESTORE inherits the LIVE set
    (its parent is the live latest), so it does not resurrect dropped
    constraints — Delta's semantics."""
    v = latest_version(root) if version is None else version
    if v is not None:
        with open(_manifest_path(root, v)) as f:
            m = json.load(f)
        if "constraints" in m:
            return dict(m["constraints"])
    return _legacy_constraints(root)


def _try_constraints_commit(root: str, parent: int, cons: dict, app: dict):
    """One CAS attempt at a metadata-only constraints commit: data,
    schema, stats, and deletion vectors verbatim from the parent;
    ``data_identical`` so change feeds and the streaming source pass it
    through. Returns the committed version, or None on a lost race."""
    with open(_manifest_path(root, parent)) as f:
        pm = json.load(f)
    version = parent + 1
    token = uuid.uuid4().hex[:8]
    manifest = {
        "version": version,
        "ts": _now(),
        "parent": parent,
        "data": _data_list(pm),
        "schema": pm["schema"],
        "app": {**app, "data_identical": True},
        "stats": pm.get("stats") or {},
        "constraints": dict(cons),
    }
    if _dv_map(pm):
        manifest["dv"] = _dv_map(pm)
    if pm.get("evolved"):
        manifest["evolved"] = True
    man_path = _manifest_path(root, version)
    tmp = f"{man_path}.{token}.tmp"
    with open(tmp, "w") as f:
        _dump_manifest(manifest, f, root)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
    except FileExistsError:
        os.unlink(tmp)
        return None
    os.unlink(tmp)
    ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
    with open(ptr_tmp, "w") as f:
        f.write(str(version))
    os.replace(ptr_tmp, _pointer_path(root))
    return version


def add_constraint(
    spark: SparkSession, root: str, name: str, expr: str,
    max_retries: int = 20,
) -> None:
    """Delta's ``ALTER TABLE ADD CONSTRAINT ... CHECK (expr)``: register
    a row-level CHECK every subsequent write must satisfy. The LIVE
    snapshot is validated first (one violation-probe scan — a
    constraint the existing data breaks is refused, like Delta), then
    the constraint lands as a metadata-only commit IN the manifest CAS
    chain. SQL CHECK semantics: a row fails only when the expression is
    FALSE — NULL passes.

    The round-10 ADD-vs-writer race is closed by construction (round
    11): because the ADD claims a version, any writer whose enforcement
    probe predates it LOSES the CAS on that version and re-probes
    against the new constraint set on its rebase; and because the ADD's
    own validation scan re-runs per attempt, a data commit that slips
    in ahead of it forces the ADD to revalidate against exactly the
    snapshot it lands on top of. Either serialization order leaves the
    Delta guarantee intact: once ADD succeeds, no violating row is (or
    can later be) committed. Tables with no committed version yet keep
    the set in the legacy side file; the first commit lifts it into the
    chain."""
    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"constraint name must be identifier-like: {name!r}")
    for _ in range(max_retries):
        parent = latest_version(root)
        cons = table_constraints(root, parent)
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists at {root}")
        cons[name] = expr
        if parent is None:
            # pre-v0: nothing to validate, no chain to ride — the side
            # file, published via the generation CAS (two concurrent
            # pre-v0 ADDs both land; the loser re-reads and re-merges)
            gen, head = _legacy_constraints_head(root)
            if name in head:
                raise ValueError(
                    f"constraint {name!r} already exists at {root}"
                )
            if not _legacy_constraints_cas(root, gen, {**head, name: expr}):
                continue  # lost the side-file CAS — re-read and re-merge
            if latest_version(root) is None:
                return
            # a first data commit raced our side-file publish; its
            # manifest may have lifted the legacy set BEFORE our entry
            # landed. If the chain carries it we are done; otherwise go
            # around and land it as an in-chain metadata commit.
            if name in table_constraints(root):
                return
            continue
        bad = (
            read_version(spark, root, parent)
            .filter(F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"cannot add CHECK constraint {name!r} ({expr}): existing "
                f"rows violate it, e.g. {tuple(bad[0])}"
            )
        if _try_constraints_commit(
            root, parent, cons,
            {"op": "add_constraint", "constraint": name},
        ) is not None:
            return
        # lost the CAS to a concurrent commit — revalidate on its top
    raise RuntimeError(
        f"add_constraint lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def drop_constraint(root: str, name: str, max_retries: int = 20) -> None:
    """Remove a CHECK constraint — a metadata-only commit in the CAS
    chain (pre-v0 tables edit the side file). Missing names raise (a
    silent no-op would hide a typo that leaves the real constraint
    enforced)."""
    for _ in range(max_retries):
        parent = latest_version(root)
        cons = table_constraints(root, parent)
        if name not in cons:
            raise ValueError(f"no constraint {name!r} at {root}")
        del cons[name]
        if parent is None:
            gen, head = _legacy_constraints_head(root)
            if name not in head:
                raise ValueError(f"no constraint {name!r} at {root}")
            dropped = {k: v for k, v in head.items() if k != name}
            if not _legacy_constraints_cas(root, gen, dropped):
                continue  # lost the side-file CAS — re-read and re-merge
            if latest_version(root) is None:
                return
            # a first data commit raced the drop: if its manifest lifted
            # the set WITH the entry still present, remove it in-chain.
            if name not in table_constraints(root):
                return
            continue
        if _try_constraints_commit(
            root, parent, cons,
            {"op": "drop_constraint", "constraint": name},
        ) is not None:
            return
    raise RuntimeError(
        f"drop_constraint lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


#: column names the layer itself materializes — a user column may never
#: be renamed onto one (DV addressing and the change feed would collide)
_RESERVED_COL_NAMES = frozenset(
    {"_dv_path", "_dv_pos", "_metadata", "_change_type", "_commit_version"}
)


def rename_column(
    root: str, old: str, new: str, max_retries: int = 20
) -> int:
    """Delta's column-mapping ``ALTER TABLE RENAME COLUMN`` — a
    METADATA-ONLY commit in the CAS chain that rewrites zero data
    bytes: the files keep the column's PHYSICAL name (fixed at its
    first commit), the manifest's logical schema takes the new name,
    and the ``colmap`` entry records logical→physical so every reader
    (snapshot, time travel, pruned reads, change feed, matviews)
    serves the renamed schema over the old files. Reference parity
    target: what the reference would do with an EF-Core rename
    migration, minus the table rewrite.

    Refused when: the table is empty (nothing to rename), ``old`` is
    not a live logical column, ``new`` already names one, ``new`` is
    layer-reserved, or a CHECK constraint references ``old`` (drop the
    constraint first — Delta's rule — rather than silently breaking
    its expression). Returns the committed version."""
    import re

    if not new or not new.replace("_", "").isalnum():
        raise ValueError(f"column name must be identifier-like: {new!r}")
    if new in _RESERVED_COL_NAMES:
        raise ValueError(f"{new!r} is reserved by the table layer")
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        with open(_manifest_path(root, parent)) as f:
            pm = json.load(f)
        names = [f_["name"] for f_ in pm["schema"]["fields"]]
        if old not in names:
            raise ValueError(
                f"no column {old!r} at {root} (have {names})"
            )
        if new in names:
            raise ValueError(f"column {new!r} already exists at {root}")
        for cname, expr in table_constraints(root, parent).items():
            if re.search(rf"\b{re.escape(old)}\b", expr):
                raise ValueError(
                    f"cannot rename {old!r}: CHECK constraint {cname!r} "
                    f"({expr}) references it — drop the constraint first"
                )
        cm = _colmap(pm)
        phys = cm.pop(old, old)
        if new != phys:
            cm[new] = phys
        schema = dict(
            pm["schema"],
            fields=[
                dict(f_, name=new) if f_["name"] == old else dict(f_)
                for f_ in pm["schema"]["fields"]
            ],
        )
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": _data_list(pm),
            "schema": schema,
            "app": {
                "op": "rename_column", "from": old, "to": new,
                "data_identical": True,
            },
            "stats": pm.get("stats") or {},
            "colmap": cm,
        }
        if _dv_map(pm):
            manifest["dv"] = _dv_map(pm)
        if pm.get("evolved"):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost — revalidate against the new latest
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"rename_column lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def drop_column(root: str, name: str, max_retries: int = 20) -> int:
    """Delta's column-mapping ``ALTER TABLE DROP COLUMN`` — a
    METADATA-ONLY commit that rewrites zero data bytes: the field
    leaves the logical schema, its PHYSICAL slot joins the manifest's
    ``retired`` tombstone set (files written before the drop still hold
    it; every logical read projects it away; the next compaction's
    rewrite reclaims the bytes — Delta's REORG PURGE), and the slot is
    permanently off-limits to new columns, so a later re-ADD of the
    same logical name maps to a FRESH physical slot via the column
    mapping (``commit_append(evolve=True)`` auto-assigns it).

    Refused when: the table is empty, ``name`` is not a live logical
    column, it is the table's LAST column, or a CHECK constraint
    references it (drop the constraint first). Keyed change feeds
    spanning the drop project the old endpoint down to the surviving
    columns. Returns the committed version."""
    import re

    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        with open(_manifest_path(root, parent)) as f:
            pm = json.load(f)
        names = [f_["name"] for f_ in pm["schema"]["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} at {root} (have {names})")
        if len(names) == 1:
            raise ValueError(
                f"cannot drop {name!r}: it is the table's last column"
            )
        for cname, expr in table_constraints(root, parent).items():
            if re.search(rf"\b{re.escape(name)}\b", expr):
                raise ValueError(
                    f"cannot drop {name!r}: CHECK constraint {cname!r} "
                    f"({expr}) references it — drop the constraint first"
                )
        cm = _colmap(pm)
        phys = cm.pop(name, name)
        schema = dict(
            pm["schema"],
            fields=[
                dict(f_) for f_ in pm["schema"]["fields"]
                if f_["name"] != name
            ],
        )
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": _data_list(pm),
            "schema": schema,
            "app": {
                "op": "drop_column", "column": name,
                "data_identical": True,
            },
            "stats": pm.get("stats") or {},
            "colmap": cm,
            "retired": sorted(_retired(pm) | {phys}),
        }
        if _dv_map(pm):
            manifest["dv"] = _dv_map(pm)
        if pm.get("evolved"):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost — revalidate against the new latest
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"drop_column lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def _enforce_constraints(df: DataFrame, root: str, op: str) -> None:
    """Validate the rows a commit is about to LAND against the table's
    CHECK constraints — called at every write path with exactly the new
    or rewritten frame (deletes land nothing; carried directories hold
    rows valid by induction). One violation-probe job per constraint,
    LIMIT 1 so the scan short-circuits — the Delta write-path
    enforcement shape. Raises BEFORE any file is written, so a refused
    commit leaves neither data nor manifest.

    This standalone form is the PRE-write probe (used where no write
    follows, e.g. validating a batch before any file lands); the commit
    write paths instead fold the probe into the data write itself via
    ``_constraints_obs``/verify — one distributed pass instead of two
    (round-12 optimization; guide §1.2: the valid-batch path previously
    paid a full probe scan PLUS the write of the same rows)."""
    for name, expr in table_constraints(root).items():
        bad = (
            df.filter(
                F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False)
            )
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by {op} "
                f"at {root}: e.g. {tuple(bad[0])}"
            )


def _constraints_obs(df: DataFrame, root: str, op: str):
    """CHECK-constraint enforcement folded into the commit's own write
    job (round 12): attach one count-of-violations metric per
    constraint to ``df`` via ``Observation`` so the probe rides the
    SAME distributed pass that writes the data — the valid-batch path
    (the overwhelmingly common one) no longer pays a separate
    full-batch probe scan per commit. Returns ``(df_observed,
    verify)``; the caller writes ``df_observed`` and then calls
    ``verify(*cleanup_dirs)``, which on a violation removes the
    just-written (still uncommitted — no manifest references it)
    directories and raises the SAME typed error as the standalone
    probe. The example violating row rides the observation itself (the
    ``__ex_i`` first() metric), so even the refusal path needs no
    second probe job. ``verify`` is None when the table has no
    constraints (zero overhead)."""
    cons = table_constraints(root)
    if not cons:
        return df, None
    from pyspark.sql import Observation

    obs = Observation()
    names = list(cons)
    row = F.struct(*[df[c] for c in df.columns])
    aggs = []
    for i, n in enumerate(names):
        viol = F.coalesce(F.expr(cons[n]), F.lit(True)) == F.lit(False)
        aggs.append(F.sum(viol.cast("long")).alias(f"__viol_{i}"))
        # an example violating row rides the same metric — the refusal
        # path needs no second probe job
        aggs.append(
            F.first(F.when(viol, row), ignorenulls=True).alias(f"__ex_{i}")
        )
    observed = df.observe(obs, *aggs)

    def verify(*cleanup_dirs: str) -> None:
        got = obs.get
        for i, name in enumerate(names):
            if not int(got[f"__viol_{i}"] or 0):
                continue
            for d in cleanup_dirs:
                if d:
                    shutil.rmtree(d, ignore_errors=True)
            ex = got.get(f"__ex_{i}")
            example = f": e.g. {tuple(ex)}" if ex is not None else ""
            raise ValueError(
                f"CHECK constraint {name!r} ({cons[name]}) violated by "
                f"{op} at {root}{example}"
            )

    return observed, verify


def _observed_write(
    df_phys: DataFrame, data_dir: str, sums: "tuple | list" = ()
) -> "tuple[dict | None, dict]":
    """Write one data directory, folding the commit-time metadata
    passes into the SAME Spark write job via ``Observation`` (round-12
    optimization, guide §1.2/§5 — previously the driver re-read the
    just-written directory with pyarrow once for the float NaN-absence
    proof and once per sums column; at 100 TB those are serial
    driver-side reads of every commit's data bytes):

    - ``nan_counts``: per top-level float/double column, the number of
      NaN values — the soundness proof ``_dir_stats`` needs before
      trusting parquet footer [min,max] on float columns (footers
      exclude NaN; Spark/DuckDB order NaN above everything).
    - ``col_sums``: exact sums for the requested INTEGER columns,
      accumulated as DECIMAL(38,0) (exact; a sum needs > 1e19 maximal
      int64 rows to overflow it — on overflow Spark yields NULL and the
      column falls back to the pyarrow bignum path).

    Returns ``(nan_counts, col_sums)``; ``nan_counts`` covers EVERY
    top-level float column of the frame (the only ones
    ``_dir_stats``'s footer pass can see — nested leaves carry a
    dotted path and are skipped there), so the caller can skip the
    pyarrow NaN read entirely. ``col_sums`` may omit columns
    (non-integer type, decimal overflow) — the caller resolves those
    through ``_dir_col_sums`` as before."""
    from pyspark.sql.types import (
        ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType,
    )

    fields = {f_.name: f_.dataType for f_ in df_phys.schema.fields}
    floats = [
        c for c, t in fields.items()
        if isinstance(t, (FloatType, DoubleType))
    ]
    int_sums = [
        c for c in sums
        if isinstance(
            fields.get(c), (ByteType, ShortType, IntegerType, LongType)
        )
    ]
    if not floats and not int_sums:
        df_phys.write.mode("overwrite").parquet(data_dir)
        return {}, {}
    from pyspark.sql import Observation

    aggs = [
        F.sum(F.isnan(df_phys[c]).cast("long")).alias(f"__nan_{i}")
        for i, c in enumerate(floats)
    ]
    aggs += [
        a
        for i, c in enumerate(int_sums)
        for a in (
            F.sum(df_phys[c].cast("decimal(38,0)")).alias(f"__sum_{i}"),
            F.count(df_phys[c]).alias(f"__cnt_{i}"),
        )
    ]
    obs = Observation()
    df_phys.observe(obs, *aggs).write.mode("overwrite").parquet(data_dir)
    got = obs.get
    nan_counts = {
        c: int(got[f"__nan_{i}"] or 0) for i, c in enumerate(floats)
    }
    col_sums: dict = {}
    for i, c in enumerate(int_sums):
        s, n = got[f"__sum_{i}"], int(got[f"__cnt_{i}"])
        if s is None and n > 0:
            continue  # decimal(38,0) overflow — pyarrow bignum fallback
        col_sums[c] = int(s) if s is not None else 0
    return nan_counts, col_sums


def _try_commit(
    df: DataFrame,
    root: str,
    parent: int | None,
    app: dict | None = None,
    bloom: "tuple[str, ...]" = (),
    sums: "tuple[str, ...]" = (),
) -> int | None:
    """One optimistic commit attempt on top of ``parent``: write data to a
    unique directory, then CAS-claim the next manifest. Returns the
    committed version, or None if another writer claimed it first (the
    loser's data directory is removed; vacuum would also reclaim it).
    ``app`` is caller-owned JSON metadata recorded in the manifest (e.g.
    a streaming sink's batch_id for exact-once commit dedup)."""
    # data-identical maintenance (compact/z-order/consolidation) lands
    # rows that are valid by induction — re-probing them would add a
    # full scan per constraint to every maintenance pass at 100 TB
    verify_cons = None
    if not (app or {}).get("data_identical"):
        df, verify_cons = _constraints_obs(df, root, "commit")
    version = 0 if parent is None else parent + 1
    token = uuid.uuid4().hex[:8]
    data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
    pmc: "dict | None" = None
    child_colmap: "dict | None" = None
    if parent is not None:
        with open(_manifest_path(root, parent)) as pf:
            pmc = json.load(pf)
        # Full-replace commits must honor the same slot discipline as
        # commit_append(evolve=True): a column the replace frame carries
        # under a name whose IDENTITY physical slot is already occupied
        # (a retired tombstone from drop_column, or another logical
        # column's post-rename physical home) gets a fresh versioned
        # physical slot instead of silently writing into — and then
        # being projected away from — the off-limits slot.
        cm = _colmap(pmc)
        taken_phys = set(cm.values()) | _retired(pmc)
        remap = {
            c: f"{c}__p{version}"
            for c in df.columns
            if c not in cm and c in taken_phys
        }
        if remap:
            pmc = dict(pmc, colmap={**cm, **remap})
            child_colmap = {
                **{l: p for l, p in cm.items() if l in set(df.columns)},
                **remap,
            }
    if sums:
        sums = tuple(_physical_names(pmc, sums)) if pmc else tuple(sums)
    nan_counts, obs_sums = _observed_write(
        _physicalize(df, pmc), data_dir, sums
    )
    if verify_cons is not None:
        verify_cons(data_dir)

    os.makedirs(_versions_dir(root), exist_ok=True)
    rel = os.path.relpath(data_dir, root)
    entry = _dir_stats(root, rel, nan_counts=nan_counts)
    if bloom:
        bloom = tuple(_physical_names(pmc, bloom)) if pmc else tuple(bloom)
        blooms = _write_dir_blooms(root, rel, tuple(bloom), df.sparkSession)
        if blooms:
            entry[_STATS_BLOOMS] = blooms
    if sums:
        col_sums = dict(obs_sums)
        left = tuple(c for c in sums if c not in col_sums)
        if left:
            col_sums.update(_dir_col_sums(root, rel, left))
        if col_sums:
            entry[_STATS_SUMS] = col_sums
    manifest = {
        "version": version,
        "ts": _now(),
        "parent": parent,
        "data": rel,
        "schema": df.schema.jsonValue(),
        "app": app or {},
        "stats": {rel: entry},
    }
    if child_colmap is not None:
        # explicit so _dump_manifest's verbatim inheritance can't drop
        # the fresh-slot entries (it only inherits when the key is absent)
        manifest["colmap"] = child_colmap
    man_path = _manifest_path(root, version)
    tmp = f"{man_path}.{token}.tmp"
    with open(tmp, "w") as f:
        _dump_manifest(manifest, f, root)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
    except FileExistsError:
        os.unlink(tmp)
        shutil.rmtree(data_dir, ignore_errors=True)  # lost the race
        return None
    os.unlink(tmp)

    # Advisory pointer for external tooling; correctness never reads it.
    ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
    with open(ptr_tmp, "w") as f:
        f.write(str(version))
    os.replace(ptr_tmp, _pointer_path(root))
    return version


def _meta_cols(manifest: dict) -> "tuple[tuple[str, ...], tuple[str, ...]]":
    """The (bloom columns, sums columns) a table is maintaining, read
    off the manifest's per-directory stats entries — the source of
    truth a maintenance rewrite must PRESERVE: a compaction that drops
    a directory's ``__blooms__``/``__sums__`` sidecars permanently
    demotes point-lookup skipping and metadata-only SUM on the
    rewritten span (an append only adds sidecars for its own tail)."""
    blooms: set = set()
    sums: set = set()
    for e in (manifest.get("stats") or {}).values():
        blooms.update((e.get(_STATS_BLOOMS) or {}).keys())
        sums.update((e.get(_STATS_SUMS) or {}).keys())
    return tuple(sorted(blooms)), tuple(sorted(sums))


def commit_version(
    df: DataFrame, root: str, max_retries: int = 20, app: dict | None = None
) -> int:
    """Write ``df`` as the next version and atomically publish it.
    Under concurrency this retries the CAS with the next free version
    number (content unchanged — for read-modify-write upserts that must
    not lose racing updates, use ``commit_merge``)."""
    app = _scrub_app(app)
    for _ in range(max_retries):
        v = _try_commit(df, root, latest_version(root), app)
        if v is not None:
            return v
    raise RuntimeError(
        f"commit_version lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def _json_stat(v):
    """Normalize one parquet-footer min/max into a JSON-storable value
    whose Python ordering matches the column's ordering — ints/floats/
    bools/strs as-is, datetimes as ISO strings (lexicographic ==
    chronological for a fixed format). Unsupported types → None (the
    column is skipped, never mis-pruned)."""
    import datetime

    if isinstance(v, bool) or v is None:
        return v if v is None else bool(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return None


#: Reserved manifest-stats keys (never column names): commit-time
#: row-level statistics recorded beside the per-column [min, max]
#: entries in the SAME footer pass — the Delta add-file-stats
#: discipline extended so ``stats_agg``/``table_snapshots`` can serve
#: counts from the manifest alone, with zero footer re-reads per query
#: (and exact counts even for vacuumed historical versions).
#: ``__rows__``: directory row count; ``__nulls__``: per-column null
#: counts (only for fully-accounted columns); ``__cols__``: the file
#: schema's top-level columns; ``__exact__``: columns whose footer
#: stats are complete AND of an exactly-representable physical type
#: (byte-array bounds may be writer-truncated and are never exact).
#: ``_keep_dir`` looks stats up per PRUNE column, so reserved keys are
#: invisible to every pruning consumer; manifests written before these
#: keys existed simply lack them and readers fall back to footers.
_STATS_ROWS = "__rows__"
_STATS_NULLS = "__nulls__"
_STATS_COLS = "__cols__"
_STATS_EXACT = "__exact__"
_STATS_BLOOMS = "__blooms__"
_STATS_SUMS = "__sums__"
_STATS_RESERVED = {
    _STATS_ROWS, _STATS_NULLS, _STATS_COLS, _STATS_EXACT, _STATS_BLOOMS,
    _STATS_SUMS,
}


def _dir_col_sums(root: str, rel_dir: str, cols: tuple) -> dict:
    """Commit-time exact column sums for one new data directory —
    recorded in the manifest stats entry (``__sums__``) so
    ``stats_agg(sums=...)`` can serve SUM with zero data reads, the way
    ``__rows__`` serves COUNT. INTEGER columns only (Python bignum
    accumulation — exact, overflow-free; float sums are order-dependent
    and NaN-poisoned, so they stay on the scan path). One column-pruned
    pyarrow read of the new directory, same O(batch) amortization as
    the footer pass. NULLs contribute zero (SQL SUM semantics; the
    all-NULL case is disambiguated by ``__nulls__``)."""
    import pyarrow.parquet as pq
    import pyarrow.types as patypes

    full = os.path.join(root, rel_dir)
    try:
        names = [n for n in os.listdir(full) if n.endswith(".parquet")]
    except OSError:
        return {}
    out: dict = {}
    for c in cols:
        total = 0
        ok = True
        for name in names:
            try:
                tbl = pq.read_table(os.path.join(full, name), columns=[c])
            except Exception:
                ok = False
                break
            col = tbl[c]
            if not patypes.is_integer(col.type):
                ok = False
                break
            arr = col.drop_null().to_numpy(zero_copy_only=False)
            if len(arr):
                # int64 reduction wraps silently; large-magnitude int64
                # values (epoch-nanos ~9e18/row) overflow within a few
                # rows. Bound-check before trusting it; otherwise chunk
                # so each partial fits int64, accumulating in Python
                # bignums — exact for any input.
                mx = max(abs(int(arr.min())), abs(int(arr.max())))
                if mx == 0 or len(arr) <= (2**62) // mx:
                    total += int(arr.sum(dtype=np.int64))
                else:
                    step = max(1, (2**62) // mx)
                    for i in range(0, len(arr), step):
                        total += int(arr[i : i + step].sum(dtype=np.int64))
        if ok:
            out[c] = total
    return out


# ---------------------------------------------------------------------------
# Per-directory bloom filters — point-lookup data skipping
# ---------------------------------------------------------------------------
# [min,max] bounds are useless for EQUALITY on a high-cardinality key
# whose values scatter across directories (every directory's range
# covers every key). A small per-directory bloom filter — recorded at
# commit time in the same pass that harvests footer stats, Delta's
# bloom-filter-index discipline — lets ``prune={col: ('=', v)}`` drop a
# directory that provably does not contain v. The filter lives INSIDE
# its data directory as ``_bloom_<col>`` (Spark ignores _-prefixed
# files, vacuum reclaims it with the directory, carry-by-reference is
# automatic); the manifest stats entry records its parameters. Sizing:
# 16 bits per distinct value, k=7 probes -> ~0.5% false-positive rate;
# false positives only KEEP a directory (pruning stays an optimization,
# never a filter).


def _splitmix64(x: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer over uint64 — the stable, vectorizable hash
    both the build (numpy array) and the point probe (scalar) share.
    uint64 wrap-around is the intended arithmetic (errstate silences
    numpy's scalar-overflow warning; array ops wrap silently anyway)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _bloom_h12(value) -> "tuple[int, int] | None":
    """The two base hashes (double hashing) of one lookup value; None
    for types the filter doesn't index (the caller must keep)."""
    import hashlib

    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, (int, np.integer)):
        try:
            v64 = np.int64(int(value))
        except OverflowError:
            # outside int64 — no indexed column can hold it; returning
            # None keeps the directory (pruning stays conservative)
            return None
        h1 = int(_splitmix64(np.uint64(v64)))
        h2 = int(_splitmix64(np.uint64(h1) ^ np.uint64(0xA5A5A5A5A5A5A5A5)))
        return h1, h2 | 1
    if isinstance(value, str):
        d = hashlib.blake2b(value.encode("utf-8"), digest_size=16).digest()
        return (
            int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little") | 1,
        )
    return None


_BLOOM_K = 7


def _bloom_build(values, m: "int | None" = None) -> "tuple[bytes, int] | None":
    """Build the packed bitmap over the distinct values of one column
    (int64/int32 vectorized through SplitMix64; strings through
    blake2b). Returns (bitmap bytes, m bits), or None when the column's
    type isn't indexable. ``m`` fixes the bitmap size (the distributed
    build sizes once from the global distinct count and ORs
    per-partition bitmaps — all partitions must agree on m)."""
    arr = np.asarray(values)
    n = max(1, len(arr))
    if m is None:
        m = 1 << max(13, (16 * n - 1).bit_length())  # >= 8192 bits, pow2
    bits = np.zeros(m // 8, dtype=np.uint8)
    if arr.dtype.kind in ("i", "u"):
        h1 = _splitmix64(arr.astype(np.int64).view(np.uint64))
        h2 = _splitmix64(h1 ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
        for i in range(_BLOOM_K):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(
                bits, (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(
                    np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                ),
            )
        return bits.tobytes(), m
    if arr.dtype.kind in ("U", "O", "S"):
        for v in arr:
            hh = _bloom_h12(str(v))
            if hh is None:
                continue
            h1, h2 = hh
            for i in range(_BLOOM_K):
                pos = (h1 + i * h2) % m
                bits[pos >> 3] |= np.uint8(1 << (pos & 7))
        return bits.tobytes(), m
    return None


def _bloom_contains(bitmap: bytes, m: int, value) -> bool:
    """Might the filter contain ``value``? False = PROVABLY absent."""
    hh = _bloom_h12(value)
    if hh is None:
        return True  # unindexable probe value — keep, stay correct
    h1, h2 = hh
    for i in range(_BLOOM_K):
        pos = (h1 + i * h2) % m
        if not (bitmap[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _write_dir_blooms(
    root: str, rel_dir: str, cols: tuple, spark: "SparkSession | None" = None
) -> dict:
    """Commit-time bloom sidecars for one new data directory: one
    column-pruned pyarrow read of the requested columns (O(new
    directory), same amortization as the footer pass), one ``_bloom_<c>``
    file per indexable column, parameters returned for the manifest
    stats entry. Unreadable data or unindexable types record nothing —
    absence of a filter always keeps.

    With ``spark`` given and the directory at least
    ``_BLOOM_DISTRIBUTED_MIN_BYTES``, the build runs DISTRIBUTED
    (``_bloom_build_distributed``) instead — batch-sized tails keep the
    cheap driver path, compaction/z-order-scale rewrites stop reading
    the whole span serially on the driver (round 12)."""
    import pyarrow.parquet as pq

    full = os.path.join(root, rel_dir)
    try:
        names = [n for n in os.listdir(full) if n.endswith(".parquet")]
    except OSError:
        return {}
    out: dict = {}
    distributed = (
        spark is not None
        and _dir_bytes(root, rel_dir) >= _BLOOM_DISTRIBUTED_MIN_BYTES
    )
    for c in cols:
        if distributed:
            built = _bloom_build_distributed(spark, full, c)
            if built is None:
                continue
            blob, m, n_distinct = built
        else:
            chunks = []
            ok = True
            for name in names:
                try:
                    tbl = pq.read_table(
                        os.path.join(full, name), columns=[c]
                    )
                except Exception:
                    ok = False
                    break
                chunks.append(
                    tbl[c].drop_null().to_numpy(zero_copy_only=False)
                )
            if not ok or not chunks:
                continue
            distinct = np.unique(np.concatenate(chunks))
            built = _bloom_build(distinct)
            if built is None:
                continue
            blob, m = built
            n_distinct = int(len(distinct))
        fname = f"_bloom_{c}"
        tmp = os.path.join(full, f"{fname}.tmp")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(full, fname))
        out[c] = {"file": fname, "m": m, "k": _BLOOM_K, "n": n_distinct}
    return out


#: Below this directory size the commit-time bloom build stays a
#: driver-side pyarrow read (cheaper than any extra Spark job for a
#: batch-sized tail); at or above it — compaction/z-order rewrites of
#: large spans — the build runs distributed, because a serial driver
#: read of the whole rewritten span is exactly the O(table) driver
#: data-path the 100 TB design forbids (round 12; guide §5).
_BLOOM_DISTRIBUTED_MIN_BYTES = 32 << 20


def _bloom_build_distributed(
    spark: SparkSession, full_dir: str, col: str
) -> "tuple[bytes, int, int] | None":
    """Distributed twin of the pyarrow bloom build for LARGE
    directories: one column-pruned distinct (the exact n the sizing
    needs), then per-partition bitmaps of the agreed size OR-folded on
    the driver — the driver handles O(m) bitmap bytes, never the
    column's data. Bit-identical output to ``_bloom_build`` (same
    hash family, same m from the same exact distinct count)."""
    try:
        src = (
            spark.read.parquet(full_dir)
            .select(col)
            .where(F.col(col).isNotNull())
            .distinct()
            # materialize the distinct ONCE: count() (the exact n that
            # sizes m) and the bitmap pass below reuse the checkpointed
            # rows instead of re-running the shuffle twice on exactly
            # the large directories this path exists to speed up
            .localCheckpoint(eager=True)
        )
        n = src.count()
    except Exception:
        # column missing or unreadable data — record no filter, same
        # skip-the-sidecar contract as the driver path (absence of a
        # filter always keeps; the commit must not abort on this)
        return None
    if n == 0:
        return None
    m = 1 << max(13, (16 * n - 1).bit_length())

    def _part_bitmaps(batches):
        import pyarrow as pa

        bits = np.zeros(m // 8, dtype=np.uint8)
        any_vals = False
        indexable = True
        for b in batches:
            vals = b.column(0).to_numpy(zero_copy_only=False)
            if len(vals) == 0:
                continue
            built = _bloom_build(vals, m=m)
            if built is None:
                indexable = False
                break
            any_vals = True
            bits |= np.frombuffer(built[0], dtype=np.uint8)
        if indexable and any_vals:
            yield pa.record_batch(
                [pa.array([bits.tobytes()], pa.binary())], names=["b"]
            )

    try:
        blobs = [
            r["b"]
            for r in src.mapInArrow(_part_bitmaps, "b binary").collect()
        ]
    except Exception:
        return None  # runtime read failure — skip the sidecar, commit
    if not blobs:
        return None  # unindexable type — same skip as the pyarrow path
    acc = np.zeros(m // 8, dtype=np.uint8)
    for blob in blobs:
        acc |= np.frombuffer(blob, dtype=np.uint8)
    return acc.tobytes(), m, n


def _prune_dirs(
    root: str, manifest: dict, dirs: list, prune: dict
) -> list:
    """The shared directory-skipping pass: interval test per recorded
    [min,max] (equality prunes as the degenerate [v,v] range), then the
    bloom membership probe for ``('=', v)`` entries on directories that
    recorded a filter for that column. Bloom reads are driver-side,
    lazy, and only for directories the ranges could not already drop.
    Prune keys are LOGICAL column names; stats/bloom sidecars are keyed
    by the physical names the files carry, so the mapping translates
    here — the one place pruning meets the manifest."""
    cm = _colmap(manifest)
    if cm:
        prune = {cm.get(c, c): b for c, b in prune.items()}
    stats = manifest.get("stats") or {}
    eq = {c: b[1] for c, b in prune.items() if _is_eq_bound(b)}
    kept = []
    for p in dirs:
        entry = stats.get(p)
        if not _keep_dir(entry, prune):
            continue
        drop = False
        for c, v in eq.items():
            meta = (entry or {}).get(_STATS_BLOOMS, {}).get(c)
            if not meta:
                continue
            try:
                with open(
                    os.path.join(root, p, meta["file"]), "rb"
                ) as f:
                    blob = f.read()
            except OSError:
                continue  # sidecar missing — keep, stay correct
            if len(blob) * 8 != meta["m"]:
                continue  # torn/foreign sidecar — keep
            if not _bloom_contains(blob, meta["m"], v):
                drop = True
                break
        if not drop:
            kept.append(p)
    return kept


def _is_eq_bound(b) -> bool:
    """Is a prune bound the equality form ``('=', v)``?"""
    return isinstance(b, tuple) and len(b) == 2 and b[0] == "="


def _dir_stats(
    root: str, rel_dir: str, nan_counts: "dict | None" = None
) -> dict:
    """Per-column [min, max] for one data directory plus the reserved
    row-level keys above, harvested from the parquet FOOTERS the write
    already produced — no second Spark job, the same add-file-stats
    discipline as Delta. Driver-side cost is O(files in this directory)
    metadata reads, i.e. O(batch) per commit, never O(table). Columns
    with missing/non-orderable statistics are simply absent (readers
    must treat absence as keep).

    ``nan_counts`` (round 12): per-float-column NaN counts the commit's
    own write job already observed (``_observed_write``) — when it
    covers every live float column, the NaN-absence proof needs NO data
    read here at all (previously a serial driver-side pyarrow read of
    every float column of every commit); any uncovered column falls
    back to the pyarrow pass, so soundness never depends on coverage."""
    import pyarrow.parquet as pq

    full = os.path.join(root, rel_dir)
    agg: dict[str, list] = {}
    rows = 0
    nulls: dict[str, int] = {}
    exact: dict[str, bool] = {}
    float_cols: set[str] = set()
    try:
        names = [n for n in os.listdir(full) if n.endswith(".parquet")]
    except OSError:
        return {}
    for name in names:
        try:
            meta = pq.read_metadata(os.path.join(full, name))
        except Exception:
            return {}  # unreadable footer — publish no stats for the dir
        rows += meta.num_rows
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                path = col.path_in_schema
                if "." in path:  # nested leaves don't map to a column
                    continue
                if col.physical_type in ("FLOAT", "DOUBLE"):
                    float_cols.add(path)
                st = col.statistics
                exact.setdefault(path, True)
                if (
                    st is None
                    or not st.has_min_max
                    or not st.has_null_count
                    or col.physical_type not in _EXACT_STAT_PHYSICAL
                ):
                    exact[path] = False
                else:
                    nulls[path] = nulls.get(path, 0) + st.null_count
                if st is None or not st.has_min_max:
                    agg[path] = None  # any gap poisons the column
                    continue
                lo, hi = _json_stat(st.min), _json_stat(st.max)
                if lo is None or hi is None:
                    agg[path] = None
                    continue
                cur = agg.get(path, ...)
                if cur is None:
                    continue
                if cur is ...:
                    agg[path] = [lo, hi]
                else:
                    try:
                        agg[path] = [min(cur[0], lo), max(cur[1], hi)]
                    except TypeError:
                        agg[path] = None
    # NaN soundness (Iceberg's nan_value_counts discipline, ADVICE r8):
    # parquet footer min/max EXCLUDE NaN, while Spark (and DuckDB) order
    # NaN above every value — so a float column's footer bounds are only
    # trustworthy once NaN absence is PROVEN. One column-pruned pyarrow
    # read of just the float columns at commit time (O(new directory's
    # float bytes), amortized into the commit like the footer pass)
    # settles it; NaN-bearing columns lose both their pruning bounds and
    # their exact flag, demoting their consumers to the scan path.
    live_floats = sorted(c for c in float_cols if exact.get(c) or agg.get(c))
    if live_floats and not (
        nan_counts is not None
        and all(c in nan_counts for c in live_floats)
    ):
        import pyarrow.compute as pc

        nan_counts = dict.fromkeys(live_floats, 0)
        for name in names:
            try:
                tbl = pq.read_table(
                    os.path.join(full, name), columns=live_floats
                )
            except Exception:
                nan_counts = dict.fromkeys(live_floats, -1)  # unprovable
                break
            for c in live_floats:
                nan_counts[c] += pc.sum(
                    pc.is_nan(tbl[c]), min_count=0
                ).as_py()
    if live_floats:
        for c in live_floats:
            if nan_counts[c] != 0:
                exact[c] = False
                agg[c] = None
    out: dict = {c: v for c, v in agg.items() if v not in (None, ...)}
    out[_STATS_ROWS] = rows
    out[_STATS_COLS] = sorted(exact)
    out[_STATS_EXACT] = sorted(c for c, ok in exact.items() if ok)
    out[_STATS_NULLS] = {c: nulls[c] for c in out[_STATS_EXACT]}
    return out


def _keep_dir(stats: dict | None, prune: dict) -> bool:
    """Directory-level interval test: prune entries are ANDed, so a
    directory is dropped as soon as ANY single column's recorded
    [min,max] proves no overlap with its bound (sound for conjunctive
    predicates only — matching ``read_version(prune=)``'s contract).
    Missing stats (no entry, no dict at all) always keep — pruning is
    an optimization, never a filter. The equality form ``('=', v)``
    tests as the degenerate [v, v] range here (its bloom probe lives in
    ``_prune_dirs``)."""
    if not stats:
        return True
    for col, bound in prune.items():
        lo, hi = (bound[1], bound[1]) if _is_eq_bound(bound) else bound
        rng = stats.get(col)
        if not rng:
            continue
        try:
            if lo is not None and rng[1] < _json_stat(lo):
                return False
            if hi is not None and rng[0] > _json_stat(hi):
                return False
        except TypeError:
            continue  # incomparable bound/stat — keep, stay correct
    return True


def _data_list(manifest: dict) -> list[str]:
    """A manifest's data directories, oldest first. Rewrite commits
    store one directory (str); append commits store the parent's list
    plus their own tail directory (list) — both forms read the same."""
    data = manifest["data"]
    return data if isinstance(data, list) else [data]


def commit_append(
    df: DataFrame,
    root: str,
    max_retries: int = 20,
    app: dict | None = None,
    evolve: bool = False,
    bloom: "tuple[str, ...]" = (),
    sums: "tuple[str, ...]" = (),
) -> int:
    """Append-structured commit: write ONLY ``df``'s rows as a new data
    directory and publish a manifest that lists the parent's data
    directories plus the new tail — the log-structured alternative to
    ``commit_version``'s full rewrite, for append-only workloads
    (event logs, an ANN codes table under monotone ids, the
    contamination-index postings). Write amplification per commit is
    O(batch), not O(table); readers union the listed directories (same
    shape as a file-level table format's add-file log). The CAS, crash
    safety, rebase-on-lose, and time-travel semantics are identical to
    the rewrite path; ``vacuum`` understands shared directories and
    never reclaims one still referenced by a retained manifest.

    By default the appended frame must match the table's committed
    schema exactly. With ``evolve=True`` the append may ADD new columns
    and/or OMIT committed ones (Delta's ``mergeSchema`` append): the
    manifest schema becomes the by-name union (committed order first,
    new columns at the end, every added/omitted column forced nullable),
    the manifest is marked ``evolved``, and readers resolve each data
    directory against the union schema by name — rows written before a
    column existed read as NULL, exactly like Delta/Iceberg schema
    evolution. Name-matched columns must keep their committed type
    (no type widening — that would require rewriting history)."""
    app = _scrub_app(app)
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            v = _try_commit(
                df, root, None, app, bloom=tuple(bloom), sums=tuple(sums)
            )
            if v is not None:
                return v
            continue
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            # a concurrent writer advanced the table AND a concurrent
            # vacuum reclaimed this parent manifest between our
            # latest_version() and the read — rebase onto the new latest,
            # exactly like a lost CAS
            continue
        # compare column names + types, NOT nullability: nullable flags
        # are plan-shape-dependent advisory metadata (the same logical
        # frame built through a different join arm flips them), and
        # parquet unions across files with differing nullability read
        # fine — while a name/type drift would corrupt the table
        committed = [
            (f_["name"], f_["type"]) for f_ in pm["schema"]["fields"]
        ]
        appended = [
            (f_["name"], f_["type"])
            for f_ in df.schema.jsonValue()["fields"]
        ]
        schema_json = pm["schema"]
        evolved = bool(pm.get("evolved"))
        remap: dict = {}  # evolve-added logical name -> fresh physical slot
        if committed != appended:
            if not evolve:
                raise ValueError(
                    "commit_append schema mismatch: appended frame must "
                    "match the committed table's column names and types "
                    "(pass evolve=True to add/omit columns, or use "
                    "commit_version for a rewrite); "
                    f"committed={committed} appended={appended}"
                )
            by_name = {f_["name"]: f_ for f_ in pm["schema"]["fields"]}
            app_fields = df.schema.jsonValue()["fields"]
            conflicts = [
                (f_["name"], by_name[f_["name"]]["type"], f_["type"])
                for f_ in app_fields
                if f_["name"] in by_name
                and by_name[f_["name"]]["type"] != f_["type"]
            ]
            if conflicts:
                raise ValueError(
                    "commit_append(evolve=True) cannot change a committed "
                    "column's type (no type widening — that would require "
                    f"rewriting history): {conflicts}"
                )
            app_names = {f_["name"] for f_ in app_fields}
            new_fields = [
                dict(f_, nullable=True)
                for f_ in app_fields
                if f_["name"] not in by_name
            ]
            # under column mapping, physical slots of RENAMED columns
            # (still occupied in the files) and of DROPPED columns
            # (retired tombstones) cannot be claimed by a new logical
            # column — auto-assign a fresh versioned physical slot
            # instead, Delta's re-add-after-drop/rename semantics (Delta
            # uses UUID physical names; a versioned suffix keeps ours
            # human-readable and unique — one commit per version)
            taken_phys = set(_colmap(pm).values()) | _retired(pm)
            remap = {
                f_["name"]: f"{f_['name']}__p{parent + 1}"
                for f_ in new_fields
                if f_["name"] in taken_phys
            }
            merged = [
                # a committed column the append omits reads NULL for the
                # new rows, so it must be nullable from here on
                dict(f_, nullable=True)
                if f_["name"] not in app_names
                else dict(f_)
                for f_ in pm["schema"]["fields"]
            ] + new_fields
            schema_json = dict(pm["schema"], fields=merged)
            evolved = evolved or bool(new_fields) or any(
                f_["name"] not in app_names
                for f_ in pm["schema"]["fields"]
            )
        obs_df, verify_cons = _constraints_obs(df, root, "commit_append")
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
        pm_eff = (
            dict(pm, colmap={**_colmap(pm), **remap}) if remap else pm
        )
        phys_sums = tuple(_physical_names(pm, sums)) if sums else ()
        nan_counts, obs_sums = _observed_write(
            _physicalize(obs_df, pm_eff), data_dir, phys_sums
        )
        if verify_cons is not None:
            verify_cons(data_dir)
        rel = os.path.relpath(data_dir, root)
        # parent stats carry forward verbatim (those dirs are immutable);
        # only the new tail's footers are read — O(batch) per commit
        stats = dict(pm.get("stats") or {})
        stats[rel] = _dir_stats(root, rel, nan_counts=nan_counts)
        if bloom:
            # point-lookup skipping index for the new tail (opt-in,
            # Delta's bloom-filter-index discipline): O(batch) build,
            # enables prune={col: ('=', v)} to drop this directory
            blooms = _write_dir_blooms(
                root, rel, tuple(_physical_names(pm, bloom)), df.sparkSession
            )
            if blooms:
                stats[rel][_STATS_BLOOMS] = blooms
        if sums:
            # metadata-only SUM support for the new tail (opt-in):
            # stats_agg(sums=...) then answers SUM(col) manifest-only —
            # folded into the write job; pyarrow only for the leftovers
            col_sums = dict(obs_sums)
            left = tuple(c for c in phys_sums if c not in col_sums)
            if left:
                col_sums.update(_dir_col_sums(root, rel, left))
            if col_sums:
                stats[rel][_STATS_SUMS] = col_sums
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": _data_list(pm) + [rel],
            "schema": schema_json,
            "app": app or {},
            "stats": stats,
        }
        if _dv_map(pm):
            # parent directories are immutable — their deletion vectors
            # carry verbatim (dropping them would resurrect deleted rows)
            manifest["dv"] = _dv_map(pm)
        if evolved:
            # directories under this manifest have heterogeneous file
            # schemas — readers must resolve them by name against the
            # union schema (read_version checks this flag)
            manifest["evolved"] = True
        if remap:
            # explicit: the inherited map plus the fresh slots this
            # evolve-append assigned (re-add after drop/rename)
            manifest["colmap"] = {**_colmap(pm), **remap}
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(data_dir, ignore_errors=True)  # lost — rebase
            continue
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"commit_append lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def compact(spark: SparkSession, root: str, app: dict | None = None) -> int:
    """Maintenance for append-built tables: commit the current snapshot
    as ONE rewrite version, collapsing the manifest's directory list
    (and its per-directory small files) back to a single directory.
    Readers are never blocked — the compacted version publishes through
    the same CAS, and the next ``vacuum`` reclaims the append-era
    directories once no retained manifest references them. Run on a
    cadence (every N appends) exactly like Delta OPTIMIZE.

    Built on ``commit_merge`` (identity merge), NOT ``commit_version``:
    losing the CAS to a concurrent append must REBASE onto the new
    snapshot — re-committing the stale pre-append snapshot would
    silently drop the racer's rows.

    The manifest is stamped ``app.data_identical`` so ``table_changes``
    knows this version changed the LAYOUT but not the DATA and serves
    ranges spanning it as pass-through — without the marker every
    change-feed range crossing a compaction would fall back to the
    O(table) keyed endpoint diff just to discover zero net changes."""

    def _identity(current: DataFrame | None) -> DataFrame:
        if current is None:
            raise FileNotFoundError(f"no committed version at {root}")
        return current

    return commit_merge(
        spark, root, _identity,
        app={"compaction": True, **(app or {})},
        # the reserved pass-through marker only compaction may write —
        # applied AFTER the scrub, so no caller-supplied dict can forge
        # it onto a data-changing commit (table_changes trusts it)
        _reserved_app={"data_identical": True},
        # maintenance must not demote the table's metadata surfaces:
        # re-derive the bloom/sums sidecars the parent was maintaining
        # for the rewritten directory (same pass commit_append runs)
        inherit_meta=True,
    )


#: compact_small sizes its merged output at ~128 MiB parquet files —
#: Delta OPTIMIZE's small-file bin-packing target, large enough for
#: whole-stage scan efficiency, small enough to parallelize.
_COMPACT_TARGET_FILE_BYTES = 128 << 20


def _dir_bytes(root: str, rel_dir: str) -> int:
    """Total parquet bytes under one data directory (recursive — z-order
    layouts nest), from driver-side ``os.stat`` only: the same metadata
    cost class as planning, zero data reads."""
    total = 0
    for base, _dirs, names in os.walk(os.path.join(root, rel_dir)):
        for n in names:
            if n.endswith(".parquet"):
                try:
                    total += os.stat(os.path.join(base, n)).st_size
                except OSError:
                    pass
    return total


def compact_small(
    spark: SparkSession,
    root: str,
    small_bytes: int = 128 << 20,
    min_dirs: int = 2,
    app: dict | None = None,
    max_retries: int = 20,
) -> "int | None":
    """Bin-packing compaction — Delta OPTIMIZE's actual shape: merge
    ONLY the data directories smaller than ``small_bytes`` into one
    right-sized directory and carry every large directory BY REFERENCE,
    untouched. ``compact()`` rewrites the whole table; on a 100 TB
    table that is O(table) write amplification every ``max_dirs``
    appends — this is the scale-correct maintenance path: write
    amplification is O(small tail), the large directories' files are
    never opened (their footer stats, bloom/sums sidecars, and deletion
    vectors carry verbatim), and each row is rewritten O(log) times
    over the table's life as it graduates from the small tail into a
    large merged directory, the classic LSM/OPTIMIZE amortization.

    The merged directory is written through the same read path a scan
    uses: deletion vectors addressing the merged directories are
    APPLIED (their map entries drop — the merged files no longer
    contain those rows), retired physical slots are left behind, and
    the rows land in the manifest's current PHYSICAL schema, so the
    merge also normalizes the small tail's schema-evolution
    heterogeneity. Visible rows are bit-for-bit unchanged, so the
    commit is ``data_identical`` — change-feed ranges and the streaming
    source pass it through exactly like ``compact()``. Bloom/sums
    sidecars the table maintains (``_meta_cols``) are re-derived for
    the merged directory in the commit's own O(merged bytes) pass.

    Returns the new version, or None when fewer than ``min_dirs``
    directories fall under ``small_bytes`` (nothing worth merging).
    CAS losses rebase: sizes, reads, and the merged directory are
    recomputed against the racer's manifest, so a concurrent DV delete
    or append is never overwritten (semantic anchor: the reference's
    maintenance jobs never block or drop writers,
    ``Services/OpcSubscribeService.cs`` row-lock discipline)."""
    if min_dirs < 2:
        raise ValueError("min_dirs must be >= 2 (1 small dir is a no-op)")
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            return None
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        dirs = _data_list(pm)
        small = [d for d in dirs if _dir_bytes(root, d) < small_bytes]
        if len(small) < min_dirs:
            return None
        small_set = set(small)
        merged_bytes = sum(_dir_bytes(root, d) for d in small)
        # read ONLY the small tail, exactly as read_version would:
        # explicit physical union schema (sound for homogeneous
        # directories too, required for heterogeneous ones), deletion
        # vectors subtracted before the files' rows are re-written
        df = spark.read.schema(_evolved_read_schema(pm)).parquet(
            *[os.path.join(root, d) for d in small]
        )
        df = _apply_dv(spark, root, pm, small, df)
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
        n_files = max(1, merged_bytes // _COMPACT_TARGET_FILE_BYTES + 1)
        bloom_cols, sums_cols = _meta_cols(pm)  # already physical names
        nan_counts, obs_sums = _observed_write(
            df.coalesce(int(n_files)), data_dir, sums_cols
        )
        rel = os.path.relpath(data_dir, root)
        entry = _dir_stats(root, rel, nan_counts=nan_counts)
        if bloom_cols:
            blooms = _write_dir_blooms(root, rel, bloom_cols, spark)
            if blooms:
                entry[_STATS_BLOOMS] = blooms
        if sums_cols:
            col_sums = dict(obs_sums)
            left = tuple(c for c in sums_cols if c not in col_sums)
            if left:
                col_sums.update(_dir_col_sums(root, rel, left))
            if col_sums:
                entry[_STATS_SUMS] = col_sums
        stats = {
            d: s
            for d, s in (pm.get("stats") or {}).items()
            if d not in small_set
        }
        stats[rel] = entry
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": [d for d in dirs if d not in small_set] + [rel],
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": "compact_small",
                "dirs_merged": len(small),
                "bytes_merged": merged_bytes,
                # layer-owned pass-through marker: same rows visible
                "data_identical": True,
            },
            "stats": stats,
        }
        dv = {
            d: e for d, e in _dv_map(pm).items() if d not in small_set
        }
        if dv:
            manifest["dv"] = dv
        # untouched directories may carry retired physical slots the
        # merged directory (written in the CURRENT physical schema)
        # does not — the union is heterogeneous, readers must resolve
        # files by name from here on
        if pm.get("evolved") or _retired(pm):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(data_dir, ignore_errors=True)
            continue  # lost — rebase onto the racer's manifest
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"compact_small lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize maintenance upstream"
    )


def maybe_compact(
    spark: SparkSession, root: str, max_dirs: int | None = 64,
    app: dict | None = None,
    zorder: "tuple[str, str] | None" = None,
    zorder_dirs: int = 16,
    max_dv_sidecars: "int | None" = 16,
    small_bytes: "int | None" = None,
) -> int | None:
    """The compaction CADENCE: compact only when the live manifest's
    data-directory list has reached ``max_dirs`` entries. Append-only
    sinks call this after every batch; the amortized cost profile is the
    LSM discipline the ephemeral span sink runs in memory — reads union
    at most ``max_dirs`` directories, and each row is rewritten once per
    ``max_dirs`` appends, so per-batch amortized compaction work is
    O(table/max_dirs). ``None`` disables. Returns the compacted version,
    or None when below the threshold (including an empty table).

    Below the directory threshold the cadence still runs DV-sidecar
    consolidation (``consolidate_dv``) once ``max_dv_sidecars``
    distinct sidecar directories accumulate — merge-on-read writers
    call one maintenance entry point and both read-path bounds hold.

    Deliberately does NOT vacuum: old manifests carry the batch_id
    ledger durable sinks recover their redelivery guards from, and
    reclaim policy (retention window) belongs to the operator, exactly
    as in Delta's OPTIMIZE-vs-VACUUM split.

    ``zorder=(col_x, col_y)`` makes the cadence run ``compact_zorder``
    instead of the single-directory ``compact`` — an auto-compacting
    sink then keeps its table CLUSTERED as it grows (Delta's
    OPTIMIZE ... ZORDER BY on a schedule), so range reads stay pruned
    between maintenance windows with no separate job to forget.
    ``zorder_dirs`` must stay BELOW ``max_dirs``: ``compact_zorder``
    leaves ``zorder_dirs`` directories behind, so ``max_dirs <=
    zorder_dirs`` would re-trigger a full-table z-order rewrite on
    EVERY subsequent append (unbounded write amplification) — rejected
    loudly here rather than discovered on the write bill.

    ``small_bytes`` switches the cadence to ``compact_small`` — the
    100-TB maintenance shape: only the sub-threshold tail is merged,
    large directories are NEVER rewritten, so per-cadence work is
    O(small tail) instead of O(table). Under it the directory count is
    bounded by ~table_bytes/small_bytes plus the appends since the last
    cadence (Delta's file-count bound under OPTIMIZE), not by
    ``max_dirs`` exactly — the honest trade for never paying a full
    rewrite. Mutually exclusive with ``zorder`` (a z-order rewrite is
    inherently full-table; pick one maintenance style per sink)."""
    if max_dirs is None:
        return None
    if small_bytes is not None and zorder is not None:
        raise ValueError(
            "maybe_compact: small_bytes and zorder are mutually exclusive "
            "— bin-packing keeps large directories untouched, a z-order "
            "rewrite is full-table by design"
        )
    if zorder is not None and zorder_dirs >= max_dirs:
        raise ValueError(
            f"zorder_dirs ({zorder_dirs}) must be < max_dirs ({max_dirs}): "
            "compact_zorder leaves zorder_dirs directories, so the cadence "
            "would re-trigger a full-table rewrite on every append"
        )
    live = latest_version(root)
    if live is None:
        return None
    with open(_manifest_path(root, live)) as f:
        manifest = json.load(f)

    def _consolidate_if_hot() -> "int | None":
        # bound the merge-on-read read path: a hot table accumulates one
        # DV sidecar per dv-commit and every scan unions all of them —
        # fold them into one (data untouched) once they reach
        # max_dv_sidecars. A full compaction subsumes this (it commits
        # vector-free), so the check only runs when one does not.
        if max_dv_sidecars is None:
            return None
        n_sidecars = len(
            {p for e in _dv_map(manifest).values() for p in e["paths"]}
        )
        if n_sidecars >= max_dv_sidecars:
            return consolidate_dv(spark, root, min_sidecars=2, app=app)
        return None

    if len(_data_list(manifest)) < max_dirs:
        return _consolidate_if_hot()
    if zorder is not None:
        return compact_zorder(
            spark, root, zorder[0], zorder[1], n_dirs=zorder_dirs, app=app
        )
    if small_bytes is not None:
        # may return None when <2 directories are under the threshold —
        # the count then stays above max_dirs until the tail grows, by
        # design (never a full rewrite on this path)
        v = compact_small(spark, root, small_bytes=small_bytes, app=app)
        if v is not None:
            return v
        # bin-packing leaves the untouched directories' deletion
        # vectors in place (unlike compact(), which commits
        # vector-free), so when the tail had nothing to merge the
        # sidecar bound must still be enforced here — else an all-large
        # layout pinned at >= max_dirs under live dv-deletes would
        # grow its scan-time sidecar union without bound
        return _consolidate_if_hot()
    return compact(spark, root, app=app)


def commit_merge(
    spark: SparkSession,
    root: str,
    merge_fn,
    max_retries: int = 20,
    app: dict | None = None,
    _reserved_app: dict | None = None,
    inherit_meta: bool = False,
) -> int:
    """Optimistic MERGE: ``merge_fn(current: DataFrame | None) ->
    DataFrame`` is applied to the latest committed snapshot and the
    result committed via the manifest CAS. On losing the race the merge
    is REBASED: re-read the new latest snapshot, re-run ``merge_fn``,
    retry — so two interleaved writers both land and neither's rows are
    lost (the reference's row-lock serialization, done optimistically).
    ``app`` metadata lands in the winning manifest (reserved keys
    stripped); ``_reserved_app`` is the module-private channel compact()
    uses to stamp ``data_identical`` — callers must not pass it.
    """
    app = {**_scrub_app(app), **(_reserved_app or {})}
    for _ in range(max_retries):
        parent = latest_version(root)
        current = read_version(spark, root, parent) if parent is not None else None
        bloom: tuple = ()
        sums: tuple = ()
        if inherit_meta and parent is not None:
            # per-attempt (a rebase must see the racer's columns too):
            # carry forward whatever bloom/sums sidecars the parent's
            # directories were maintaining
            try:
                with open(_manifest_path(root, parent)) as f:
                    pm_meta = json.load(f)
                bloom, sums = _meta_cols(pm_meta)
                # _meta_cols reads stats keys — PHYSICAL names; map back
                # to logical (``_try_commit`` re-physicalizes), so the
                # round-trip is exact under column mapping
                p2l = {p: l for l, p in _colmap(pm_meta).items()}
                bloom = tuple(p2l.get(c, c) for c in bloom)
                sums = tuple(p2l.get(c, c) for c in sums)
            except FileNotFoundError:
                pass  # parent vacuumed mid-attempt; CAS will rebase
        v = _try_commit(
            merge_fn(current), root, parent, app, bloom=bloom, sums=sums
        )
        if v is not None:
            return v
    raise RuntimeError(
        f"commit_merge lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def version_as_of(root: str, ts: float) -> int:
    """Timestamp time travel (Delta's ``TIMESTAMP AS OF``): the HIGHEST
    retained version whose commit ``ts`` is <= the target. Wall clocks
    can regress across writers (same caveat as Delta's file-timestamp
    resolution), so taking the max version among qualifying manifests —
    rather than the last in time order — keeps the answer a prefix of
    the version history. Raises ValueError when the earliest retained
    commit is after ``ts`` (nothing existed yet / vacuumed away) or the
    table predates commit timestamps entirely."""
    best = None
    stamped = 0
    for man in history(root):
        if "ts" not in man:
            continue  # pre-timestamp manifest (round <8): not resolvable
        stamped += 1
        if man["ts"] <= ts and (best is None or man["version"] > best):
            best = man["version"]
    if best is None:
        raise ValueError(
            f"no version at or before ts={ts} at {root} "
            f"({stamped} timestamped manifest(s) retained)"
        )
    return best


def read_version(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    prune: dict | None = None,
    as_of_ts: "float | None" = None,
    audit: "dict | None" = None,
) -> DataFrame:
    """Read the latest committed snapshot, or time-travel to ``version``
    (or to ``as_of_ts`` — resolved via ``version_as_of``; mutually
    exclusive with ``version``).
    Raises FileNotFoundError for an empty table and ValueError for a
    version that was never committed or has been vacuumed.

    ``prune={col: (lo, hi)}`` is DATA SKIPPING over the manifest's
    per-directory footer stats (the same add-file-stats discipline as
    Delta). Multiple prune entries are ANDed — a directory is dropped
    as soon as ANY single column's recorded [min, max] proves no
    overlap with its bound (``lo``/``hi`` may each be None for a
    one-sided range), which is sound only for CONJUNCTIVE predicates:
    a disjunction (OR of ranges) must be pruned per-branch (one read
    per branch, unioned) or not pruned at all — passing its branches
    as one prune dict would silently drop directories that match the
    other branch.
    Missing stats always keep — pruning is an I/O optimization, never a
    filter: kept directories can still hold out-of-range rows, so the
    caller applies the real predicate on top (and Catalyst then pushes
    it into the remaining parquet scans). At 100 TB this is the manifest
    half of partition pruning: a time-range read of an append-built
    event table touches only the directories whose footer ranges
    intersect, decided driver-side from the one small manifest JSON.

    A prune entry may also be the EQUALITY form ``('=', v)`` — it tests
    as the [v, v] range AND, on directories committed with
    ``commit_append(bloom=(col,))``, probes the per-directory bloom
    filter: the point-lookup case where ranges are useless (every
    directory's [min,max] of a high-cardinality scattered key covers
    every value) but membership is cheap to disprove. ``audit``
    (optional dict) receives ``{"dirs_total", "dirs_kept"}``."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        version = version_as_of(root, as_of_ts)
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version at {root}")
    try:
        with open(_manifest_path(root, version)) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"version {version} not present at {root} (never committed, "
            "or removed by vacuum)"
        )
    dirs = _data_list(manifest)
    if prune:
        dirs = _prune_dirs(root, manifest, dirs, prune)
    if audit is not None:
        audit.update(
            dirs_total=len(_data_list(manifest)), dirs_kept=len(dirs)
        )
    if not dirs:
        # every directory pruned out of range, or the version holds zero
        # data directories (a full-table delete_where) — an empty frame
        # in the table's committed schema (no parquet path to scan; a
        # local relation, so reading it starts no Python worker)
        from pyspark.sql.types import StructType

        return local_frame(spark, [], StructType.fromJson(manifest["schema"]))
    paths = [os.path.join(root, p) for p in dirs]
    # schema always explicit from the manifest (``_read_data``): evolved
    # tables resolve files by name against the union schema (columns a
    # directory predates read as NULL); non-evolved tables read the
    # committing frame's physical schema verbatim — either way Spark
    # skips the per-read schema-inference job. Retired slots still
    # present in old files are simply never read.
    df = _read_data(spark, manifest, paths)
    # merge-on-read: subtract any deletion vectors recorded for the
    # directories this read kept (pruned-out dirs never pay the join);
    # DV addressing is positional, so it runs before the rename to the
    # logical schema (``colmap`` — a pure projection Catalyst folds
    # into the scan, so pushdown and pruning are unaffected)
    return _logicalize(_apply_dv(spark, root, manifest, dirs, df), manifest)


def _evolved_read_schema(manifest: dict):
    """The manifest's union schema in PHYSICAL names with every field
    forced nullable — any directory may predate any column, so no
    column can promise non-null across the whole union; files resolve
    by the names they actually carry (renames are metadata-only)."""
    from pyspark.sql.types import StructType

    phys = _physical_schema_json(manifest)
    fields = [dict(f_, nullable=True) for f_ in phys["fields"]]
    return StructType.fromJson(dict(phys, fields=fields))


#: Parquet physical types whose footer min/max are EXACT values of the
#: column (byte-array statistics may be truncated by writers, so string/
#: decimal-FLBA columns are never served from metadata). FLOAT/DOUBLE
#: qualify ONLY at commit time, where ``_dir_stats`` proves NaN absence
#: with a column-pruned read (footer bounds exclude NaN while Spark and
#: DuckDB order NaN above everything — ADVICE r8); the manifest-free
#: footer fallback (``_dir_footer_agg``) has no such proof, so it uses
#: the narrower set.
_EXACT_STAT_PHYSICAL = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}
_FOOTER_EXACT_PHYSICAL = {"INT32", "INT64", "BOOLEAN"}


def _dir_footer_agg(root: str, rel_dir: str, cols: tuple) -> "dict | None":
    """Footer harvest for one data directory, for metadata-only
    aggregates: the directory's total row count plus, per requested
    column, exact [min, max] and the null count — all read from the
    parquet FOOTERS the write already produced (O(files) metadata
    reads, ZERO data reads, the Iceberg metadata-table discipline).

    Returns ``{"rows": int, "cols": {name: {"min", "max", "nulls",
    "exact"}}}`` — a column missing from the dict is ABSENT from the
    directory's file schema (reads as all-NULL under schema evolution).
    ``exact`` is False when any row group withholds statistics or a
    null count, or the physical type's byte-array min/max may be
    writer-truncated — the caller must then scan this directory rather
    than trust the footers. Returns None when a footer is unreadable
    (same contract: scan)."""
    import pyarrow.parquet as pq

    full = os.path.join(root, rel_dir)
    try:
        names = [n for n in os.listdir(full) if n.endswith(".parquet")]
    except OSError:
        return None
    rows = 0
    out: dict[str, dict] = {}
    want = set(cols)
    for name in names:
        try:
            meta = pq.read_metadata(os.path.join(full, name))
        except Exception:
            return None
        rows += meta.num_rows
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                path = col.path_in_schema
                if path not in want:
                    continue
                cur = out.setdefault(
                    path, {"min": None, "max": None, "nulls": 0, "exact": True}
                )
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or not st.has_null_count
                    or col.physical_type not in _FOOTER_EXACT_PHYSICAL
                ):
                    # no/partial stats, a possibly-truncated byte-array
                    # bound, or a float column with no NaN-absence proof
                    # (footer bounds exclude NaN; Spark orders NaN above
                    # all) — cannot be served from metadata
                    cur["exact"] = False
                    continue
                cur["nulls"] += st.null_count
                if cur["min"] is None or st.min < cur["min"]:
                    cur["min"] = st.min
                if cur["max"] is None or st.max > cur["max"]:
                    cur["max"] = st.max
    return {"rows": rows, "cols": out}


def _serve_from_manifest(
    entry: dict, prune: dict, cols: tuple, sums: tuple = ()
):
    """Classify one directory for ``stats_agg`` from its manifest stats
    entry ALONE (the commit-time row-level keys) — zero footer I/O.
    Returns None when the entry predates the row-level keys, or when a
    requested column is footer-servable but not manifest-servable (its
    JSON min/max is a string — ISO datetimes lose their type in the
    manifest; the footer fallback serves them typed). Otherwise
    ("exclude", None), ("scan", None), or ("include", contrib) with
    contrib = {"rows", "mins", "maxs", "cnts", "sums", "sumcnts"}. A
    requested ``sums`` column demotes to scan unless the directory was
    committed with ``sums=`` covering it (``__sums__``) and its null
    count is known."""
    if not entry or _STATS_ROWS not in entry:
        return None
    rows = entry[_STATS_ROWS]
    present = set(entry[_STATS_COLS])
    exact = set(entry[_STATS_EXACT])
    nulls = entry[_STATS_NULLS]
    for c, (lo, hi) in prune.items():
        if c not in present:
            return ("exclude", None)  # all-NULL under evolution
        rng = entry.get(c)
        if c not in exact or rng is None:
            return ("scan", None)
        lo_n, hi_n = _json_stat(lo), _json_stat(hi)
        try:
            if (lo_n is not None and rng[1] < lo_n) or (
                hi_n is not None and rng[0] > hi_n
            ):
                return ("exclude", None)
            if (
                nulls.get(c, 1) > 0
                or (lo_n is not None and rng[0] < lo_n)
                or (hi_n is not None and rng[1] > hi_n)
            ):
                return ("scan", None)
        except TypeError:
            return ("scan", None)
    contrib = {
        "rows": rows, "mins": {}, "maxs": {}, "cnts": {},
        "sums": {}, "sumcnts": {},
    }
    for c in cols:
        if c not in present:
            continue  # absent under evolution: contributes nothing
        rng = entry.get(c)
        if c not in exact or rng is None:
            return ("scan", None)
        if isinstance(rng[0], str) or isinstance(rng[1], str):
            # exact in the footers but JSON-stringified in the manifest
            # (ISO datetimes): the footer path serves it typed
            return None
        contrib["mins"][c] = rng[0]
        contrib["maxs"][c] = rng[1]
        contrib["cnts"][c] = rows - nulls.get(c, 0)
    col_sums = entry.get(_STATS_SUMS) or {}
    for c in sums:
        if c not in present:
            continue  # absent under evolution: contributes zero
        if c not in col_sums or c not in exact:
            return ("scan", None)  # no commit-time sum for this dir
        contrib["sums"][c] = int(col_sums[c])
        contrib["sumcnts"][c] = rows - nulls.get(c, 0)
    return ("include", contrib)


def stats_agg(
    spark: SparkSession,
    root: str,
    cols: "tuple[str, ...]" = (),
    version: int | None = None,
    prune: dict | None = None,
    audit: "dict | None" = None,
    counts: bool = False,
    sums: "tuple[str, ...]" = (),
) -> DataFrame:
    """Metadata-only aggregate over a committed snapshot — the Iceberg
    metadata-table shape: serve ``count(*)`` plus ``min``/``max`` of
    each requested column from the manifest's data-directory parquet
    FOOTERS alone, scanning actual data ONLY for directories the
    footers cannot decide. On a 100 TB table whose append batches are
    range-clustered this answers "how many events in this id window,
    and what are its value bounds" from O(directories) driver-side
    metadata reads instead of a full scan.

    ``prune={col: (lo, hi)}`` here is the PREDICATE itself (closed
    bounds, either side None; entries ANDed), not just a skipping hint:
    per directory the footer [min, max] + null counts classify it as
    fully-excluded (disjoint on any column, or the column absent from
    the directory's schema — all-NULL under evolution, so no row
    matches), fully-included (every prune column provably inside its
    bound with zero nulls — all rows match, footer rows/min/max are the
    directory's exact contribution), or undecidable — only the last
    group is scanned, with the real predicate applied. A requested
    ``cols`` member whose footers are unservable in a directory
    (missing stats, writer-truncated byte-array bounds) also demotes
    that directory to the scan set.

    Returns a ONE-ROW DataFrame: ``row_cnt`` (count of matching rows)
    plus ``min_<c>``/``max_<c>`` per requested column, typed from the
    table schema (SQL MIN/MAX semantics — NULLs skipped, NULL result on
    zero matching rows), and with ``counts=True`` also ``cnt_<c>`` —
    the SQL ``COUNT(col)`` non-null count, equally footer-exact
    (directory rows minus the column's null count; a column absent
    from a directory under evolution counts zero there). ``audit``
    (optional dict) receives ``{"dirs_total", "dirs_excluded",
    "dirs_metadata", "dirs_scanned"}`` so callers (and the pinned
    tests) can assert zero data directories were read when bounds
    decide."""
    from pyspark.sql.types import StructField, StructType

    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version at {root}")
    try:
        with open(_manifest_path(root, version)) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"version {version} not present at {root} (never committed, "
            "or removed by vacuum)"
        )
    prune = prune or {}
    dirs = _data_list(manifest)
    man_stats = manifest.get("stats") or {}
    # bloom-aware skipping pass first (subsumes _keep_dir's interval
    # test, adds the ('=', v) membership probe); downstream consumers
    # (_serve_from_manifest, footer classification, the scan predicate)
    # see equality normalized to the [v, v] range
    bloom_kept = (
        set(_prune_dirs(root, manifest, dirs, prune)) if prune else set(dirs)
    )
    # COLUMN MAPPING: everything below (manifest stats, footers, raw
    # scans) is keyed by the PHYSICAL names the files carry; ``cols``/
    # ``sums``/``prune`` arrive logical (``_prune_dirs`` above does its
    # own translation), and ``p2l`` restores logical labels on the
    # output row. Translation is a no-op for unmapped tables.
    cm = _colmap(manifest)
    p2l = {p: l for l, p in cm.items()}
    if cm:
        cols = tuple(cm.get(c, c) for c in cols)
        sums = tuple(cm.get(c, c) for c in sums)
        prune = {cm.get(c, c): b for c, b in prune.items()}
    prune = {
        c: ((b[1], b[1]) if _is_eq_bound(b) else b)
        for c, b in prune.items()
    }

    rows = 0
    mins: dict[str, object] = {c: None for c in cols}
    maxs: dict[str, object] = {c: None for c in cols}
    cnts: dict[str, int] = {c: 0 for c in cols}
    sums_acc: dict[str, int] = {c: 0 for c in sums}
    sums_nn: dict[str, int] = {c: 0 for c in sums}
    scan_dirs: list[str] = []
    n_excluded = n_meta = 0
    n_manifest = 0
    dv = _dv_map(manifest)
    for rel in dirs:
        # cheap manifest-stats disjointness first (no footer I/O at all)
        # — still sound for a vectored directory: a DV only REMOVES
        # rows, so the recorded [min,max] stay over-approximations
        if prune and rel not in bloom_kept:
            n_excluded += 1
            continue
        if rel in dv:
            entry = man_stats.get(rel) or {}
            if not prune and not cols and not sums and _STATS_ROWS in entry:
                # bare COUNT(*): the manifest's dv row count is exact
                # (recorded at delete-commit time), so a vectored dir
                # still serves metadata-only — rows minus tombstones
                n_meta += 1
                n_manifest += 1
                rows += entry[_STATS_ROWS] - int(dv[rel].get("rows", 0))
                continue
            # otherwise: manifest/footer row counts overcount the
            # deleted rows and min/max may be stale — scan, with the
            # vectors applied below
            scan_dirs.append(rel)
            continue
        # manifest fast path: commit-time row-level stats decide the
        # directory with ZERO footer re-reads (and stay correct even
        # for vacuumed historical versions — the manifest outlives the
        # directory)
        served = _serve_from_manifest(
            man_stats.get(rel) or {}, prune, cols, sums
        )
        if served is not None:
            decision, contrib = served
            if decision == "exclude":
                n_excluded += 1
                continue
            if decision == "scan":
                scan_dirs.append(rel)
                continue
            n_meta += 1
            n_manifest += 1
            rows += contrib["rows"]
            for c in cols:
                if c not in contrib["mins"]:
                    continue
                cnts[c] += contrib["cnts"][c]
                if mins[c] is None or contrib["mins"][c] < mins[c]:
                    mins[c] = contrib["mins"][c]
                if maxs[c] is None or contrib["maxs"][c] > maxs[c]:
                    maxs[c] = contrib["maxs"][c]
            for c in sums:
                if c in contrib["sums"]:
                    sums_acc[c] += contrib["sums"][c]
                    sums_nn[c] += contrib["sumcnts"][c]
            continue
        agg = _dir_footer_agg(root, rel, tuple({*cols, *prune}))
        if agg is None:
            scan_dirs.append(rel)
            continue
        dir_cols = agg["cols"]
        decided = "include"
        for c, (lo, hi) in prune.items():
            cs = dir_cols.get(c)
            if cs is None:
                # column absent from this directory's schema: all NULL
                # under the evolved read, no row can match the predicate
                decided = "exclude"
                break
            if not cs["exact"]:
                decided = "scan"
                break
            if cs["min"] is None:  # all-null column with stats: no match
                decided = "exclude"
                break
            if (lo is not None and cs["max"] < lo) or (
                hi is not None and cs["min"] > hi
            ):
                decided = "exclude"
                break
            if (
                cs["nulls"] > 0
                or (lo is not None and cs["min"] < lo)
                or (hi is not None and cs["max"] > hi)
            ):
                decided = "scan"  # partial overlap (or NULLs): undecidable
                break
        if decided == "exclude":
            n_excluded += 1
            continue
        if decided == "include" and sums:
            # footers carry no column sums — only the manifest fast
            # path (commit-time __sums__) can include a dir for SUM
            decided = "scan"
        if decided == "include":
            # every requested column must also be footer-servable here
            # (a present column with inexact stats forces the scan path)
            for c in cols:
                cs = dir_cols.get(c)
                if cs is not None and not cs["exact"]:
                    decided = "scan"
                    break
        if decided == "scan":
            scan_dirs.append(rel)
            continue
        n_meta += 1
        rows += agg["rows"]
        for c in cols:
            cs = dir_cols.get(c)
            if cs is None or cs["min"] is None:
                continue  # absent or all-null: contributes nothing
            # non-null count is footer-exact too: every row group of an
            # "exact" column carried a null count
            cnts[c] += agg["rows"] - cs["nulls"]
            if mins[c] is None or cs["min"] < mins[c]:
                mins[c] = cs["min"]
            if maxs[c] is None or cs["max"] > maxs[c]:
                maxs[c] = cs["max"]

    if scan_dirs:
        paths = [os.path.join(root, p) for p in scan_dirs]
        df = _read_data(spark, manifest, paths)
        df = _apply_dv(spark, root, manifest, scan_dirs, df)
        cond = F.lit(True)
        for c, (lo, hi) in prune.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"_min_{c}"))
            aggs.append(F.max(c).alias(f"_max_{c}"))
            aggs.append(F.count(F.col(c)).alias(f"_cnt_{c}"))
        for c in sums:
            aggs.append(F.sum(F.col(c)).alias(f"_sum_{c}"))
            aggs.append(F.count(F.col(c)).alias(f"_scnt_{c}"))
        row = df.filter(cond).agg(*aggs).collect()[0]
        rows += row["_rows"]
        for c in sums:
            if row[f"_sum_{c}"] is not None:
                sums_acc[c] += int(row[f"_sum_{c}"])
                sums_nn[c] += int(row[f"_scnt_{c}"])

        def _is_nan(v) -> bool:
            return isinstance(v, float) and v != v

        for c in cols:
            # merge with Spark MIN/MAX ordering: NaN sorts ABOVE every
            # value (Python's NaN comparisons are all-False, which would
            # silently drop a scanned partition's NaN max)
            lo_v, hi_v = row[f"_min_{c}"], row[f"_max_{c}"]
            cnts[c] += row[f"_cnt_{c}"]
            if lo_v is not None and (
                mins[c] is None or _is_nan(mins[c])
                or (not _is_nan(lo_v) and lo_v < mins[c])
            ):
                mins[c] = lo_v
            if hi_v is not None and (
                maxs[c] is None or _is_nan(hi_v)
                or (not _is_nan(maxs[c]) and hi_v > maxs[c])
            ):
                maxs[c] = hi_v

    if audit is not None:
        audit.update(
            dirs_total=len(dirs),
            dirs_excluded=n_excluded,
            dirs_metadata=n_meta,
            dirs_scanned=len(scan_dirs),
            # of the metadata-served dirs, how many needed no footer
            # re-read at all (commit-time manifest row stats)
            dirs_manifest=n_manifest,
        )

    table_schema = StructType.fromJson(_physical_schema_json(manifest))
    by_name = {f_.name: f_.dataType for f_ in table_schema.fields}
    out_fields = [StructField("row_cnt", _long_type(), False)]
    for c in cols:
        if c not in by_name:
            raise ValueError(
                f"stats_agg column {p2l.get(c, c)!r} not in table schema"
            )
        lc = p2l.get(c, c)
        out_fields.append(StructField(f"min_{lc}", by_name[c], True))
        out_fields.append(StructField(f"max_{lc}", by_name[c], True))
        if counts:
            out_fields.append(StructField(f"cnt_{lc}", _long_type(), False))
    for c in sums:
        if c not in by_name:
            raise ValueError(
                f"stats_agg sums column {p2l.get(c, c)!r} not in table "
                "schema"
            )
        # _dir_col_sums records integer columns only; a double/decimal
        # column would demote every directory to the scan path and then
        # silently truncate fractions into the long-typed output —
        # refuse instead of returning a wrong SUM.
        if by_name[c].typeName() not in ("byte", "short", "integer", "long"):
            raise ValueError(
                f"stats_agg sums column {p2l.get(c, c)!r} has non-integral type "
                f"{by_name[c].simpleString()}; metadata sums are "
                "integer-only — aggregate float/decimal columns with a "
                "regular query"
            )
        # SQL SUM semantics: NULL on zero non-null matching rows
        out_fields.append(
            StructField(f"sum_{p2l.get(c, c)}", _long_type(), True)
        )
    values = [rows]
    for c in cols:
        values.append(mins[c])
        values.append(maxs[c])
        if counts:
            values.append(int(cnts[c]))
    for c in sums:
        values.append(int(sums_acc[c]) if sums_nn[c] > 0 else None)
    # a local relation: the metadata-only answer starts no Python worker
    return local_frame(spark, [tuple(values)], StructType(out_fields))


def _long_type():
    from pyspark.sql.types import LongType

    return LongType()


CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def snapshot_diff(
    old: DataFrame | None,
    new: DataFrame,
    keys: list[str],
    commit_version: int | None = None,
) -> DataFrame:
    """Keyed diff of two snapshots of the same table — the engine under
    ``table_changes``, usable standalone on any pair of key-unique
    frames. Emits one row per change in the table's column order plus
    ``_change_type`` ('insert' | 'delete' | 'update_preimage' |
    'update_postimage'; updates emit BOTH images, Delta-CDF-style) and,
    when ``commit_version`` is given, a ``_commit_version`` column.

    Shape at scale: each side collapses its non-key columns into ONE
    struct, the sides meet in a single full-outer shuffle join on the
    key columns, and the change classification is a codegen when-chain
    over struct null-ness and null-safe struct equality — no second
    pass, no Python. ``keys`` must be unique per snapshot (the upsert
    invariant every ``commit_merge`` caller in this repo maintains);
    duplicate keys would cross-multiply in the join.

    ``old=None`` means "diff against the empty table": every row of
    ``new`` is an insert.
    """
    cols = list(new.columns)
    if not keys or any(k not in cols for k in keys):
        raise ValueError(f"keys {keys} must be non-empty columns of {cols}")
    if old is not None and list(old.columns) != cols:
        raise ValueError(
            f"snapshot columns differ: old={old.columns} new={cols}"
        )
    nonkeys = [c for c in cols if c not in keys]

    def _side(df: DataFrame, tag: str) -> DataFrame:
        # zero-non-key tables still need a present/absent marker the
        # full-outer join can nullify — a constant stands in for the
        # payload struct (struct() with no fields is not expressible)
        payload = (
            F.struct(*[F.col(c) for c in nonkeys]) if nonkeys else F.lit(0)
        )
        return df.select(*keys, payload.alias(tag))

    n = _side(new, "_post")
    if old is None:
        j = n.withColumn("_pre", F.lit(None).cast(n.schema["_post"].dataType))
    else:
        j = _side(old, "_pre").join(n, keys, "full_outer")
    pre, post = F.col("_pre"), F.col("_post")

    def _tag(kind: str, img) -> F.Column:
        return F.struct(F.lit(kind).alias("kind"), img.alias("img"))

    changes = (
        F.when(pre.isNull() & post.isNotNull(), F.array(_tag("insert", post)))
        .when(post.isNull() & pre.isNotNull(), F.array(_tag("delete", pre)))
        .when(
            ~pre.eqNullSafe(post),
            F.array(
                _tag("update_preimage", pre), _tag("update_postimage", post)
            ),
        )
        # unchanged rows fall through to NULL; explode() drops them
    )
    exploded = j.select(*keys, F.explode(changes).alias("_c"))
    out_cols = [
        F.col(c) if c in keys else F.col(f"_c.img.{c}").alias(c)
        for c in cols
    ] + [F.col("_c.kind").alias(CHANGE_TYPE_COL)]
    out = exploded.select(*out_cols)
    if commit_version is not None:
        out = out.withColumn(
            COMMIT_VERSION_COL, F.lit(commit_version).cast("bigint")
        )
    return out


def table_changes(
    spark: SparkSession,
    root: str,
    v_from: int | None,
    v_to: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """Change feed for a versioned table: the rows a downstream
    incremental consumer must apply to move from snapshot ``v_from``
    (exclusive; None = the empty table) to ``v_to`` (inclusive; None =
    latest). Delta calls this CDF / ``table_changes``; the reference's
    consumers get the same effect from Postgres logical decoding on its
    mutable table (``Services/OpcSubscribeService.cs`` upserts).

    Two plans, picked from the manifests alone:

    - **Append fast path** — when every step in ``(v_from, v_to]`` is a
      retained append commit (its data list extends its parent's), the
      changes ARE the tail directories: read only those, tag
      ``insert``, stamp each row with its true per-commit version.
      O(changes) I/O, zero joins, no ``keys`` needed — the shape that
      matters at 100 TB, where the table is huge and the delta is not.
      A retained step whose manifest carries ``app.data_identical``
      (``compact``/``maybe_compact``) is PASS-THROUGH: it rewrote the
      layout, not the data, so it contributes zero changes and merely
      resets the directory baseline — append→compact→append ranges stay
      on the fast path instead of paying an O(table) diff for a no-op.
      A ``delete_where_dv`` step stays on the fast path too: its
      changes ARE its new deletion-vector sidecars, so the step
      contributes ``delete`` rows recovered by reading ONLY the
      directories the addresses touch (immutable files — the deleted
      images are exact at any later version), still O(changes), still
      no ``keys``. Merge-on-read upserts/updates (``upsert_mor``,
      ``update_where_dv``) ride the same machinery: new sidecar
      addresses contribute ``delete`` pre-images and the appended tail
      contributes ``insert`` rows — the delete+insert decomposition of
      an update (the keyed endpoint diff labels the same keys
      update_pre/postimage; net-equivalent for consumers).
    - **Keyed diff** — otherwise (rewrites/upserts/compactions in the
      range, or intermediate manifests vacuumed), a ``snapshot_diff``
      of the two endpoint snapshots: one full-outer shuffle on
      ``keys``, updates as pre+post image pairs. Range-collapsed —
      ``_commit_version`` is ``v_to`` for every row (a row upserted
      twice in the range reports its net change once).
    """
    if v_to is None:
        v_to = latest_version(root)
        if v_to is None:
            raise FileNotFoundError(f"no committed version at {root}")
    if v_from is not None and v_from > v_to:
        raise ValueError(f"v_from={v_from} is newer than v_to={v_to}")

    if v_from == v_to:
        base = read_version(spark, root, v_to)
        return (
            base.withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            .withColumn(COMMIT_VERSION_COL, F.lit(0).cast("bigint"))
            .limit(0)
        )

    # -- append fast path: every step's manifest retained + prefix-extends
    steps = list(range(0 if v_from is None else v_from + 1, v_to + 1))
    tails: list[tuple[int, list[str]]] = []
    fast = True
    prev_list: list[str] | None = None
    dv_steps: list[tuple[int, list[str]]] = []
    prev_dv: dict | None = None
    for v in steps:
        try:
            with open(_manifest_path(root, v)) as f:
                m = json.load(f)
        except FileNotFoundError:
            fast = False
            break
        if (m.get("app") or {}).get("data_identical"):
            # compaction: layout rewrite, zero data changes — contribute
            # no tail, reset the baseline to the compacted directory list
            prev_list = _data_list(m)
            prev_dv = _dv_map(m)
            continue
        try:
            if prev_list is None and v > 0:
                with open(_manifest_path(root, v - 1)) as f:
                    base_m = json.load(f)
                prev_list = _data_list(base_m)
                prev_dv = _dv_map(base_m)
        except FileNotFoundError:
            fast = False
            break
        prev = prev_list or []
        cur = _data_list(m)
        if (
            cur == prev
            and (m.get("app") or {}).get("op") == "delete_where_dv"
        ):
            # merge-on-read delete: the step's changes ARE its new
            # deletion-vector sidecars — O(deleted rows), no keys needed
            known = {
                p for e in (prev_dv or {}).values() for p in e["paths"]
            }
            new_paths = sorted(
                {p for e in _dv_map(m).values() for p in e["paths"]}
                - known
            )
            if not new_paths:
                fast = False  # defensive: unrecognizable dv commit
                break
            # evolved tables: the addressed files have heterogeneous
            # schemas — the delete-image read must resolve by name
            # against the union schema (in PHYSICAL names), like every
            # evolved read, so the step's whole manifest rides along
            dv_steps.append((v, new_paths, m if m.get("evolved") else None))
            prev_dv = _dv_map(m)
            continue
        if (
            (m.get("app") or {}).get("op") in ("upsert_mor", "update_where_dv")
            and cur[: len(prev)] == prev
        ):
            # merge-on-read upsert/update: the step's changes ARE its
            # new sidecar addresses (the tombstoned pre-images, emitted
            # as ``delete`` rows) plus its appended tail (the new
            # images, emitted as ``insert`` rows) — the delete+insert
            # decomposition of an update, keyless and O(changes) like
            # the dv-delete fast path. (The keyed endpoint diff would
            # label the matched keys update_pre/postimage instead; the
            # decomposition is net-equivalent for feed consumers, which
            # apply updates as delete-then-insert anyway.) The dv map
            # must be strictly ADDITIVE over the step — anything else
            # is not the _commit_mor shape and takes the keyed diff.
            known = {
                p for e in (prev_dv or {}).values() for p in e["paths"]
            }
            cur_paths = {
                p for e in _dv_map(m).values() for p in e["paths"]
            }
            if not known <= cur_paths:
                fast = False  # a sidecar vanished — not additive
                break
            new_paths = sorted(cur_paths - known)
            if not new_paths and len(cur) == len(prev):
                fast = False  # neither tombstones nor tail: unrecognizable
                break
            if new_paths:
                dv_steps.append(
                    (v, new_paths, m if m.get("evolved") else None)
                )
            if len(cur) > len(prev):
                tails.append((v, cur[len(prev):]))
            prev_list = cur
            prev_dv = _dv_map(m)
            continue
        if cur[: len(prev)] != prev or len(cur) <= len(prev):
            fast = False  # a rewrite/upsert step — not an append
            break
        if _dv_map(m) != (prev_dv or {}):
            # extends the directory list AND changes deletion vectors —
            # a merge-on-read step of a shape the branches above do not
            # recognize; treating it as a pure append would resurrect
            # the replaced rows
            fast = False
            break
        tails.append((v, cur[len(prev):]))
        prev_list = cur
        prev_dv = _dv_map(m)
    if fast and not tails and not dv_steps:
        # every step in the range was a data-identical layout rewrite —
        # the net change feed is empty
        base = read_version(spark, root, v_to)
        return (
            base.withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            .withColumn(COMMIT_VERSION_COL, F.lit(0).cast("bigint"))
            .limit(0)
        )
    if fast:
        # the feed serves v_to's LOGICAL schema: physical names are
        # stable across renames, so one logicalize against the v_to
        # manifest is correct for rows of every era in the range
        with open(_manifest_path(root, v_to)) as f:
            m_to = json.load(f)
        parts = [
            _logicalize(
                _read_data(
                    spark, m_to, [os.path.join(root, p) for p in dirs]
                ),
                m_to,
            )
            .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            .withColumn(COMMIT_VERSION_COL, F.lit(v).cast("bigint"))
            for v, dirs in tails
        ]
        for v, paths, ev_manifest in dv_steps:
            # the sidecar addresses name the touched FILES, hence their
            # directories — read only those, semi-join on the row
            # address to recover the deleted rows' images (immutable
            # files, so the image is exact at every later version).
            # Sidecars are O(that commit's deleted rows): broadcast.
            addrs = spark.read.schema(_DV_ADDR_SCHEMA).parquet(
                *[os.path.join(root, p) for p in paths]
            ).select("_dv_path", "_dv_pos")
            tdirs = sorted(
                {
                    os.path.dirname(r["_dv_path"])
                    for r in addrs.select("_dv_path").distinct().collect()
                }
            )
            tpaths = [os.path.join(root, d) for d in tdirs]
            # evolved steps ride their own manifest (union-schema
            # resolution); plain steps read under m_to's physical
            # schema — the touched dirs are immutable and still listed
            src = _read_data(spark, ev_manifest or m_to, tpaths)
            cols = src.columns
            deleted = (
                _logicalize(
                    src.select("*", *_dv_key_cols(root))
                    .join(
                        F.broadcast(addrs),
                        ["_dv_path", "_dv_pos"],
                        "left_semi",
                    )
                    .select(*cols),
                    m_to,
                )
                .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                .withColumn(COMMIT_VERSION_COL, F.lit(v).cast("bigint"))
            )
            parts.append(deleted)
        out = parts[0]
        for p in parts[1:]:
            # schema-evolved appends may add/omit columns between steps;
            # a tail that predates a column reports NULL for it
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    if keys is None:
        raise ValueError(
            f"table_changes at {root} v{v_from}..v{v_to}: the range is not "
            "pure retained appends (rewrite/upsert/compaction commits, or "
            "vacuumed intermediate manifests) — pass keys= for a keyed "
            "snapshot diff"
        )
    old = None if v_from is None else read_version(spark, root, v_from)
    new = read_version(spark, root, v_to)
    if old is not None:
        # a RENAME between the endpoints changes logical names but not
        # physical slots — serve the OLD endpoint under v_to's logical
        # names via the physical identity, so the diff (and a rename-
        # only range) compares the same columns instead of refusing
        with open(_manifest_path(root, v_from)) as f:
            fm_ = json.load(f)
        with open(_manifest_path(root, v_to)) as f:
            tm_ = json.load(f)
        cm_f, cm_t = _colmap(fm_), _colmap(tm_)
        gone_t = _retired(tm_)
        if cm_f or cm_t or gone_t:
            p2l_t = {p: l for l, p in cm_t.items()}
            keep = [
                c for c in old.columns if cm_f.get(c, c) not in gone_t
            ]  # metadata-DROPPED columns leave the diff (their values
            #    are untouched for surviving rows — Delta's CDF shape)
            ren = {c: p2l_t.get(cm_f.get(c, c), cm_f.get(c, c)) for c in keep}
            if keep != old.columns or any(ren[c] != c for c in keep):
                old = old.select(*[F.col(c).alias(ren[c]) for c in keep])
    if old is not None and old.columns != new.columns:
        # schema evolution between the endpoints: align the OLD side to
        # the new snapshot's column set (columns it predates read NULL)
        # so the diff's struct comparison is well-typed — an old row
        # whose new column stays NULL still compares equal
        missing = [c for c in new.columns if c not in old.columns]
        dropped = [c for c in old.columns if c not in new.columns]
        if dropped:
            raise ValueError(
                f"table_changes at {root} v{v_from}..v{v_to}: the range "
                f"drops columns {dropped} (a rewrite) — a keyed diff "
                "cannot attribute changes for removed columns"
            )
        for c in missing:
            old = old.withColumn(
                c, F.lit(None).cast(dict(new.dtypes)[c])
            )
        old = old.select(*new.columns)
    return snapshot_diff(old, new, keys, commit_version=v_to)


def table_snapshots(spark: SparkSession, root: str) -> DataFrame:
    """Metadata table over the commit history — the Iceberg
    ``snapshots`` shape: one row per retained version with (version,
    parent, ts, n_dirs, rows, data_identical, batch_id). Row counts come
    from parquet footers (``_dir_footer_agg``), MEMOIZED per data
    directory across versions — append-structured histories share
    directories, so the driver-side cost is O(distinct directories)
    metadata reads for the whole history, zero data reads, zero Spark
    jobs until the returned (history-sized) DataFrame is consumed. A
    version whose directories were vacuumed reports NULL rows rather
    than guessing."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    memo: dict[str, "int | None"] = {}
    out = []
    for man in history(root):
        dirs = _data_list(man)
        man_stats = man.get("stats") or {}
        total: "int | None" = 0
        for rel in dirs:
            if rel not in memo:
                entry = man_stats.get(rel) or {}
                if _STATS_ROWS in entry:
                    # commit-time manifest row count: no footer read,
                    # and exact even after a vacuum reclaimed the dir
                    memo[rel] = entry[_STATS_ROWS]
                else:
                    agg = _dir_footer_agg(root, rel, ())
                    memo[rel] = None if agg is None else agg["rows"]
            if memo[rel] is None:
                total = None
                break
            total += memo[rel]
        if total is not None:
            # merge-on-read deletes: the manifest's dv row counts are
            # exact (recorded at delete commit time), so the snapshot
            # row count stays manifest-only
            dset = set(dirs)
            total -= sum(
                int(e.get("rows", 0))
                for d, e in _dv_map(man).items()
                if d in dset
            )
        app = man.get("app") or {}
        bid = app.get("batch_id")
        out.append(
            (
                man["version"],
                man.get("parent"),
                float(man["ts"]) if "ts" in man else None,
                len(dirs),
                total,
                bool(app.get("data_identical", False)),
                int(bid) if isinstance(bid, int) else None,
            )
        )
    schema = StructType(
        [
            StructField("version", LongType(), False),
            StructField("parent", LongType(), True),
            StructField("ts", DoubleType(), True),
            StructField("n_dirs", LongType(), False),
            StructField("rows", LongType(), True),
            StructField("data_identical", BooleanType(), False),
            StructField("batch_id", LongType(), True),
        ]
    )
    return local_frame(spark, out, schema)


def history(root: str) -> list[dict]:
    """All retained manifests, oldest first — ordered by the PARSED
    version number, not the filename (lexical order breaks past the
    v%05d padding width)."""
    vdir = _versions_dir(root)
    if not os.path.isdir(vdir):
        return []
    out = []
    for name in os.listdir(vdir):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(vdir, name)) as f:
                out.append(json.load(f))
    out.sort(key=lambda m: m["version"])
    return out


def vacuum(
    root: str,
    keep: int = 2,
    orphan_grace_s: float = 3600.0,
    retain_s: float | None = None,
) -> list[int]:
    """Drop all but the newest ``keep`` versions (never the live one):
    manifests first, then data directories — a reader holding an old
    manifest between the two deletes fails loudly on the manifest (gone)
    rather than silently reading half a data directory. Also reclaims
    orphan data directories and manifest .tmp files from crashed commits
    and lost CAS attempts, but ONLY ones older than ``orphan_grace_s``:
    under the multi-writer protocol an unmanifested data directory may
    be a concurrent commit IN FLIGHT (data written, CAS link microseconds
    away) — reclaiming it would let that commit succeed while pointing
    at deleted data. The grace period (Delta's vacuum retention, in
    miniature) makes that race require an hour-long stall; pass 0 only
    when no writer can be live. Returns the removed version numbers.

    ``retain_s`` adds TIME-based retention on top of the count (Delta's
    ``delta.deletedFileRetentionDuration``, in miniature): any version
    whose manifest is younger than ``retain_s`` seconds is ALSO
    retained, so time travel and change-feed consumers are guaranteed a
    window measured in wall-clock time regardless of commit rate — a
    burst of commits cannot age a minutes-old snapshot out of a
    keep-by-count policy. The two policies compose as a union of
    retained sets (count floor + time window)."""
    import time

    live = latest_version(root)
    if live is None:
        return []
    hist = history(root)
    # keep=0 means "live only" — hist[-0:] would slice the WHOLE history
    # and retain everything, the opposite of the caller's intent
    newest = hist[len(hist) - keep:] if keep > 0 else []
    retained = {m["version"] for m in newest} | {live}
    if retain_s is not None:
        cutoff = time.time() - retain_s
        for m in hist:
            try:
                if os.path.getmtime(_manifest_path(root, m["version"])) >= cutoff:
                    retained.add(m["version"])
            except OSError:
                retained.add(m["version"])  # racing reader/writer — keep
    # append commits SHARE data directories across versions: a dir may
    # only be reclaimed once NO retained manifest references it
    retained_paths = {
        p for m in hist if m["version"] in retained for p in _data_list(m)
    }
    # deletion-vector sidecars are shared the same way (a carried dir's
    # dv list rides through later manifests verbatim)
    retained_dv = {
        p
        for m in hist
        if m["version"] in retained
        for e in _dv_map(m).values()
        for p in e["paths"]
    }
    removed = []
    for m in hist:
        v = m["version"]
        if v in retained:
            continue
        os.remove(_manifest_path(root, v))
        for p in {
            q for e in _dv_map(m).values() for q in e["paths"]
        }:
            if p not in retained_dv:
                shutil.rmtree(os.path.join(root, p), ignore_errors=True)
        for p in _data_list(m):
            if p not in retained_paths:
                shutil.rmtree(os.path.join(root, p), ignore_errors=True)
                # a z-ordered commit lists SUBdirectories
                # (data/vN-tok/_zb=K); removing the last one leaves an
                # empty parent — drop it too so it never lingers as a
                # pseudo-orphan
                parent = os.path.dirname(os.path.join(root, p))
                try:
                    if os.path.normpath(parent) != os.path.normpath(
                        os.path.join(root, "data")
                    ):
                        os.rmdir(parent)
                except OSError:
                    pass  # not empty (a sibling subdir is retained)
        removed.append(v)

    def _old_enough(p: str) -> bool:
        try:
            return time.time() - os.path.getmtime(p) >= orphan_grace_s
        except OSError:
            return False  # vanished mid-scan — someone else owns it

    # orphans: data dirs with no manifest (crashed or CAS-losing commits)
    # — invisible to readers; reclaim only past the grace window.
    # A z-ordered commit manifests SUBdirectories (data/vN-tok/_zb=K),
    # so a top-level dir is live when it IS a manifested path OR
    # CONTAINS one — matching only exact paths here would reclaim the
    # live z-ordered table as an "orphan"
    data_root = os.path.join(root, "data")
    manifested = {p for m in history(root) for p in _data_list(m)}
    manifested_top = {
        os.path.join(*p.split(os.sep)[:2]) for p in manifested
    }
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            rel = os.path.join("data", name)
            full = os.path.join(data_root, name)
            if (
                rel not in manifested
                and rel not in manifested_top
                and _old_enough(full)
            ):
                shutil.rmtree(full, ignore_errors=True)
    # orphan dv sidecars: written before the CAS, stranded by a lost
    # race or crash — same grace-window rule as data orphans
    dv_root = os.path.join(root, "dv")
    manifested_dv = {
        p for m in history(root) for e in _dv_map(m).values()
        for p in e["paths"]
    }
    if os.path.isdir(dv_root):
        for name in os.listdir(dv_root):
            rel = os.path.join("dv", name)
            full = os.path.join(dv_root, name)
            if rel not in manifested_dv and _old_enough(full):
                shutil.rmtree(full, ignore_errors=True)
    # manifest .tmp debris: a writer killed between the CAS link and its
    # tmp unlink leaves v*.json.<token>.tmp behind forever otherwise
    vdir = _versions_dir(root)
    if os.path.isdir(vdir):
        for name in os.listdir(vdir):
            if name.endswith(".tmp"):
                full = os.path.join(vdir, name)
                if _old_enough(full):
                    try:
                        os.unlink(full)
                    except OSError:
                        pass
    return removed


def _split_affected(
    spark: SparkSession,
    root: str,
    manifest: dict,
    condition: str,
    bounds: dict | None,
    probe: bool,
) -> tuple[list[str], list[str]]:
    """Partition a manifest's data directories into (carried, touched)
    for a predicate rewrite. Two cheap eliminations run before any
    rewrite I/O:

    1. **Stats disjointness** (driver-side, free): a directory whose
       recorded footer [min,max] proves no overlap with ``bounds`` (the
       caller's over-approximation of where matching rows can live,
       same shape as ``read_version(prune=)``) cannot contain a match.
    2. **Existence probe** (optional, one column-pruned LIMIT-1 scan per
       surviving candidate): a candidate directory with zero matching
       rows is carried by reference instead of rewritten. Catalyst
       prunes the scan to the predicate's columns and stops at the
       first match, so the probe reads metadata + a few pages, not the
       directory.

    Missing stats always land in the candidate set — elimination is an
    optimization, never a filter."""
    stats = manifest.get("stats") or {}
    cm_b = _colmap(manifest)
    if bounds and cm_b:
        bounds = {cm_b.get(c, c): b for c, b in bounds.items()}
    carried: list[str] = []
    candidates: list[str] = []
    for p in _data_list(manifest):
        if bounds and not _keep_dir(stats.get(p), bounds):
            carried.append(p)
        else:
            candidates.append(p)
    if not (probe and candidates):
        return carried, candidates
    hit = _dirs_with_matches(
        spark, root, manifest, candidates,
        lambda df: df.where(F.expr(condition)),
    )
    touched = [p for p in candidates if p in hit]
    carried += [p for p in candidates if p not in hit]
    return carried, touched


def _dirs_with_matches(
    spark: SparkSession,
    root: str,
    manifest: dict,
    candidates: list[str],
    match_fn,
) -> set[str]:
    """Which candidate directories actually contain rows selected by
    ``match_fn``? ONE Spark job over all candidates — a column-pruned,
    predicate-pushed scan reduced to the distinct set of matching file
    paths via ``input_file_name()`` — instead of one LIMIT-1 job per
    directory (at 1000 directories the per-dir form is driver-latency-
    bound; this form is a single scan whose output is a handful of
    paths)."""
    from urllib.parse import unquote, urlparse

    paths = [os.path.join(root, p) for p in candidates]
    src = _read_data(spark, manifest, paths)
    # capture the file name in a projection DIRECTLY over the scan:
    # input_file_name() evaluated after match_fn would return '' whenever
    # the join shuffles this side (sort-merge on a diff too big to
    # broadcast) — as a materialized column it survives any exchange.
    # match_fn's predicate speaks the LOGICAL schema — rename first.
    src = _logicalize(src, manifest).withColumn("_f", F.input_file_name())
    files = match_fn(src).select("_f").distinct().collect()
    abs_root = os.path.abspath(root)
    hit: set[str] = set()
    for r in files:
        local = unquote(urlparse(r["_f"]).path)
        hit.add(os.path.relpath(os.path.dirname(local), abs_root))
    return hit


def _commit_rewrite_where(
    spark: SparkSession,
    root: str,
    condition: str,
    rewrite_fn,
    bounds: dict | None,
    probe: bool,
    app: dict | None,
    max_retries: int,
    op: str,
) -> int:
    """Shared core of ``delete_where``/``update_where``: rewrite ONLY the
    data directories that can contain predicate matches; every other
    directory is carried into the new manifest BY REFERENCE (its stats
    carried verbatim — those files are immutable). This is the file-level
    rewrite discipline of a Delta DELETE/UPDATE: at 100 TB a keyed delete
    against an append-built, id-clustered table touches the handful of
    directories whose footer ranges intersect the predicate, decided
    driver-side from one small manifest JSON, while the table's other
    terabytes are not read, not shuffled, and not rewritten.

    On losing the manifest CAS the whole split/rewrite REBASES onto the
    new latest version (same protocol as ``commit_append``) — a racing
    append's rows land in the candidate set of the retry and are
    correctly deleted/updated if they match."""
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        carried, touched = _split_affected(
            spark, root, pm, condition, bounds, probe
        )
        if not touched:
            # no directory can contain a match: the table is unchanged —
            # report the parent version rather than committing a no-op
            return parent
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        touched_paths = [os.path.join(root, p) for p in touched]
        source = _read_data(spark, pm, touched_paths)
        # merge-on-read: a touched directory's deletion vectors apply
        # BEFORE the rewrite (the rewrite must not resurrect deleted
        # rows) and are folded away by it — the new tail is vector-free
        source = _logicalize(_apply_dv(spark, root, pm, touched, source), pm)
        rewritten = rewrite_fn(source)
        committed = [
            (f_["name"], f_["type"]) for f_ in pm["schema"]["fields"]
        ]
        produced = [
            (f_["name"], f_["type"])
            for f_ in rewritten.schema.jsonValue()["fields"]
        ]
        if committed != produced:
            raise ValueError(
                f"{op} must preserve the committed schema; "
                f"committed={committed} produced={produced}"
            )
        obs_rw, verify_cons = _constraints_obs(rewritten, root, op)
        data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
        nan_counts, _ = _observed_write(_physicalize(obs_rw, pm), data_dir)
        if verify_cons is not None:
            verify_cons(data_dir)
        rel = os.path.relpath(data_dir, root)
        data_list = list(carried)
        try:
            has_rows = any(
                n.endswith(".parquet") for n in os.listdir(data_dir)
            )
        except OSError:
            has_rows = False
        if has_rows:
            data_list.append(rel)
        else:
            # every row of every touched directory was deleted — an empty
            # write may emit no parquet files at all, which a later read
            # of the directory list could not infer a schema from
            shutil.rmtree(data_dir, ignore_errors=True)
        stats = {
            p: s
            for p, s in (pm.get("stats") or {}).items()
            if p in set(carried)
        }
        if has_rows:
            stats[rel] = _dir_stats(root, rel, nan_counts=nan_counts)
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": data_list,
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": op,
                "predicate": condition,
                "carried_dirs": len(carried),
                "rewritten_dirs": len(touched),
            },
            "stats": stats,
        }
        dv_carried = {
            d: e for d, e in _dv_map(pm).items() if d in set(carried)
        }
        if dv_carried:
            manifest["dv"] = dv_carried
        if pm.get("evolved") and carried:
            # carried directories keep their pre-evolution file schemas —
            # the union-read contract must survive this commit (the
            # rewritten tail alone is homogeneous, so a commit that
            # carried nothing resets the flag)
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            if has_rows:
                shutil.rmtree(data_dir, ignore_errors=True)
            continue  # lost — rebase the split and rewrite
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"{op} lost the manifest CAS {max_retries} times at {root} — "
        "writer contention is pathological; raise max_retries or "
        "serialize writers upstream"
    )


def delete_where(
    spark: SparkSession,
    root: str,
    condition: str,
    bounds: dict | None = None,
    probe: bool = True,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Predicate DELETE as a new table version: rows matching the SQL
    boolean expression ``condition`` are removed; only directories that
    can contain matches are rewritten (see ``_commit_rewrite_where``),
    the rest ride along by reference. The reference's delete-shaped op
    is the bulk reset (``Services/OpcSubscribeService.cs`` UPDATE-all /
    row removal via EF); on Spark the natural form is Delta's DELETE
    FROM — copy-on-write at directory granularity, time travel keeps
    the pre-delete snapshot readable.

    ``bounds={col: (lo, hi)}`` is an over-approximation of where
    matching rows can live (one/both ends may be None). It must be
    conservative: a directory outside ``bounds`` is assumed match-free
    without reading it. When in doubt pass no bounds — the existence
    probe still skips rewriting match-free directories, at one LIMIT-1
    scan each.

    A delete commit deliberately does NOT extend its parent's directory
    list, so ``table_changes`` ranges spanning it fall back to the keyed
    endpoint diff (pass-through would silently re-insert deleted rows).

    Returns the new version, or the UNCHANGED parent version when no
    directory can contain a match (a no-op delete commits nothing)."""
    return _commit_rewrite_where(
        spark, root, condition,
        lambda df: df.where(~F.expr(condition) | F.expr(condition).isNull()),
        bounds, probe, app, max_retries, "delete_where",
    )


def update_where(
    spark: SparkSession,
    root: str,
    condition: str,
    set_exprs: dict[str, str],
    bounds: dict | None = None,
    probe: bool = True,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Predicate UPDATE as a new table version: for rows matching
    ``condition``, each column in ``set_exprs`` is replaced by its SQL
    expression (evaluated against the row, so ``{"value": "value * 2"}``
    works); non-matching rows and untouched directories are carried
    unchanged. The SET result is cast back to the column's committed
    type — an UPDATE can never evolve the schema. Same directory-level
    copy-on-write, bounds/probe elimination, CAS+rebase, and
    change-feed behavior as ``delete_where``.

    SQL UPDATE semantics: the condition and EVERY SET expression are
    evaluated against the PRE-update row — all replacements happen in
    one ``select`` over the source, so ``{"a": "b", "b": "a"}`` swaps
    the two columns and a condition that mentions a SET column selects
    rows by their original values (chained ``withColumn`` would let a
    later SET observe an earlier SET's result, which Delta/ANSI UPDATE
    forbids)."""
    for c in set_exprs:
        if "." in c:
            raise ValueError(f"update_where cannot SET nested field {c!r}")

    def _apply(df: DataFrame) -> DataFrame:
        missing = [c for c in set_exprs if c not in df.columns]
        if missing:
            raise ValueError(
                f"update_where SET columns not in table: {missing}"
            )
        cond = F.expr(condition)
        # One select: every expression below references df's input row,
        # never another SET's output — the pre-image contract.
        return df.select(*[
            F.when(cond, F.expr(set_exprs[c]).cast(df.schema[c].dataType))
            .otherwise(F.col(c)).alias(c)
            if c in set_exprs else F.col(c)
            for c in df.columns
        ])

    return _commit_rewrite_where(
        spark, root, condition, _apply,
        bounds, probe, app, max_retries, "update_where",
    )


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read row-level deletes
# ---------------------------------------------------------------------------

#: Above this many recorded DV rows across the directories being read,
#: the read-time anti-join is left unhinted (AQE picks the strategy);
#: at or below it the DV side is broadcast — the common case (point and
#: small-range deletes) then costs ZERO shuffle of the fact table.
_DV_BROADCAST_MAX_ROWS = 1_000_000


def _dv_addr_schema():
    """The fixed two-column schema every DV sidecar carries — passed
    explicitly to each sidecar read so Spark never runs a schema-
    inference job over tombstone files."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    return StructType(
        [
            StructField("_dv_path", StringType(), True),
            StructField("_dv_pos", LongType(), True),
        ]
    )


_DV_ADDR_SCHEMA = _dv_addr_schema()


def _dv_map(manifest: dict) -> dict:
    """The manifest's deletion-vector map: ``{data_dir_rel: {"paths":
    [dv_dir_rel, ...], "rows": n}}``. Absent on tables that never took
    a merge-on-read delete."""
    return manifest.get("dv") or {}


def _dv_key_cols(root: str) -> "tuple[Column, Column]":
    """The two row-address columns every DV read/write shares:
    ``_dv_path`` (the source file's path RELATIVE to the table root —
    relocatable, unique per file including z-order subdirectories) and
    ``_dv_pos`` (the row's position within that file,
    ``_metadata.row_index`` — stable because committed parquet files
    are immutable). Must be selected on a frame read directly from
    parquet (the hidden ``_metadata`` column does not survive joins)."""
    norm = F.regexp_replace(
        F.col("_metadata.file_path"), "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/"
    )
    start = len(os.path.abspath(root)) + 2  # 1-indexed, past the slash
    rel = norm.substr(F.lit(start), F.length(norm))
    return (
        rel.alias("_dv_path"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )


def _apply_dv(
    spark: SparkSession, root: str, manifest: dict, dirs: list, df: DataFrame
) -> DataFrame:
    """Merge-on-read: subtract the manifest's deletion vectors from a
    frame just read from ``dirs``. ``df`` must be the DIRECT parquet
    read (``_metadata`` available). DV sidecars are O(deleted rows);
    when small (the normal case) they broadcast, so the subtraction is
    a broadcast-hash LEFT ANTI join — a per-partition hash-table probe
    with NO shuffle of the fact side, the Spark-native equivalent of
    Delta's bitmap-at-scan application."""
    dv = _dv_map(manifest)
    hit = [d for d in dirs if d in dv]
    if not hit:
        return df
    paths = sorted({p for d in hit for p in dv[d]["paths"]})
    dv_df = spark.read.schema(_DV_ADDR_SCHEMA).parquet(
        *[os.path.join(root, p) for p in paths]
    ).select("_dv_path", "_dv_pos")
    total = sum(int(dv[d].get("rows", 0)) for d in hit)
    if total <= _DV_BROADCAST_MAX_ROWS:
        dv_df = F.broadcast(dv_df)
    cols = df.columns
    keyed = df.select("*", *_dv_key_cols(root))
    return keyed.join(
        dv_df, ["_dv_path", "_dv_pos"], "left_anti"
    ).select(*cols)


def delete_where_dv(
    spark: SparkSession,
    root: str,
    condition: str,
    bounds: dict | None = None,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Predicate DELETE as a MERGE-ON-READ commit — the Delta/Iceberg
    deletion-vector shape: instead of rewriting every directory the
    predicate touches (``delete_where``'s copy-on-write, O(touched
    directories) write amplification), record the matched rows'
    addresses (relative file path + row position) in a parquet sidecar
    and map each affected directory to it in the manifest. Readers
    subtract the vectors at scan time (``_apply_dv``); ``compact()``
    folds them away (it reads through ``read_version`` and commits a
    vector-free rewrite). Write amplification is O(deleted rows) — a
    point delete on a 100 TB table writes a few-KB sidecar and one
    manifest, never a data directory. The semantic anchor is the
    reference's row-granular mutation discipline
    (``Services/OpcSubscribeService.cs:600-654`` ctid row locks): row
    deletes must not cost directory rewrites.

    Commit anatomy: the data-directory list, stats, and schema carry
    VERBATIM (footer [min,max] remain sound over-approximations — a DV
    only removes rows); only the ``dv`` map changes. Already-deleted
    rows are excluded before matching, so re-deleting is a no-op and DV
    row counts never double-count. ``bounds`` is the same conservative
    skip hint as ``delete_where``. Change-feed ranges spanning a DV
    commit stay on the O(changes) fast path: the step's ``delete`` rows
    are recovered from its sidecar addresses (``table_changes``), no
    keys needed. ``stats_agg`` demotes vectored directories to its scan
    path (their manifest row counts overcount). Returns the new
    version, or the unchanged parent when nothing matched."""
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        stats = pm.get("stats") or {}
        dirs = _data_list(pm)
        cm_b = _colmap(pm)
        eff_bounds = (
            {cm_b.get(c, c): b for c, b in bounds.items()}
            if bounds and cm_b else bounds
        )
        candidates = [
            p for p in dirs
            if not eff_bounds or _keep_dir(stats.get(p), eff_bounds)
        ]
        if not candidates:
            return parent  # no directory can contain a match
        paths = [os.path.join(root, p) for p in candidates]
        src = _read_data(spark, pm, paths)
        # address every candidate row, drop the already-deleted, keep
        # the predicate's matches: the new DV increment. The predicate
        # is written over LOGICAL names; the scan is physical, so the
        # frame logicalizes first (the `_dv_*` key columns pass through)
        keyed = _logicalize(src.select("*", *_dv_key_cols(root)), pm)
        dv = _dv_map(pm)
        prior = [d for d in candidates if d in dv]
        if prior:
            prior_paths = sorted({p for d in prior for p in dv[d]["paths"]})
            prior_df = spark.read.schema(_DV_ADDR_SCHEMA).parquet(
                *[os.path.join(root, p) for p in prior_paths]
            ).select("_dv_path", "_dv_pos")
            if sum(int(dv[d]["rows"]) for d in prior) <= _DV_BROADCAST_MAX_ROWS:
                prior_df = F.broadcast(prior_df)
            keyed = keyed.join(
                prior_df, ["_dv_path", "_dv_pos"], "left_anti"
            )
        inc = (
            keyed.where(F.expr(condition))
            .select("_dv_path", "_dv_pos")
            .localCheckpoint(eager=True)
        )
        # one action instead of two (round 12): the per-directory
        # grouping also answers the total/emptiness the separate
        # count() used to
        per_dir = {
            r["_d"]: int(r["n"])
            for r in inc.groupBy(
                F.regexp_extract("_dv_path", "^(.*)/[^/]+$", 1).alias("_d")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total = sum(per_dir.values())
        if total == 0:
            return parent  # nothing matched — commit no no-op
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        dv_dir = os.path.join(root, "dv", f"v{version:05d}-{token}")
        out = inc.repartition(1) if total <= _DV_BROADCAST_MAX_ROWS else inc
        out.write.mode("overwrite").parquet(dv_dir)
        rel_dv = os.path.relpath(dv_dir, root)
        new_dv = dict(dv)
        for d, n in per_dir.items():
            e = new_dv.get(d) or {"paths": [], "rows": 0}
            new_dv[d] = {
                "paths": list(e["paths"]) + [rel_dv],
                "rows": int(e["rows"]) + n,
            }
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": dirs,
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": "delete_where_dv",
                "predicate": condition,
                "dv_rows": total,
                "dv_dirs": len(per_dir),
                "rewritten_dirs": 0,
                "carried_dirs": len(dirs),
            },
            "stats": stats,
            "dv": new_dv,
        }
        if pm.get("evolved"):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(dv_dir, ignore_errors=True)
            continue  # lost — rebase the match set onto the new latest
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"delete_where_dv lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def _commit_mor(
    spark: SparkSession,
    root: str,
    bounds: "dict | None",
    select_matched,
    make_tail,
    op: str,
    app: dict | None,
    max_retries: int,
) -> int:
    """Shared merge-on-read WRITE core (``commit_upsert(mor=True)`` /
    ``update_where_dv``): tombstone the matched rows via deletion-vector
    sidecars (O(matched rows), no directory rewrites) and append the
    replacement rows as ONE new tail directory. ``select_matched(keyed)``
    filters the candidates read (``keyed`` carries ``_dv_path``/
    ``_dv_pos``, already-deleted rows excluded) down to the rows to
    tombstone; ``make_tail(matched)`` produces the rows to append in the
    committed schema (may derive from the matched pre-images). The
    commit extends the data list AND the dv map, so ``table_changes``
    classifies it as a rewrite-class step (keyed diff), never a pure
    append. CAS losses rebase both halves."""
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        stats = pm.get("stats") or {}
        dirs = _data_list(pm)
        dv = _dv_map(pm)
        cm_b = _colmap(pm)
        eff_bounds = (
            {cm_b.get(c, c): b for c, b in bounds.items()}
            if bounds and cm_b else bounds
        )
        candidates = [
            p for p in dirs
            if not eff_bounds or _keep_dir(stats.get(p), eff_bounds)
        ]
        if candidates:
            paths = [os.path.join(root, p) for p in candidates]
            src = _read_data(spark, pm, paths)
            # callbacks (predicates, SET exprs, key joins) speak the
            # LOGICAL schema; the scan is physical — rename first
            keyed = _logicalize(src.select("*", *_dv_key_cols(root)), pm)
            prior = [d for d in candidates if d in dv]
            if prior:
                prior_paths = sorted(
                    {p for d in prior for p in dv[d]["paths"]}
                )
                prior_df = spark.read.schema(_DV_ADDR_SCHEMA).parquet(
                    *[os.path.join(root, p) for p in prior_paths]
                ).select("_dv_path", "_dv_pos")
                if (
                    sum(int(dv[d]["rows"]) for d in prior)
                    <= _DV_BROADCAST_MAX_ROWS
                ):
                    prior_df = F.broadcast(prior_df)
                keyed = keyed.join(
                    prior_df, ["_dv_path", "_dv_pos"], "left_anti"
                )
            matched = select_matched(keyed).localCheckpoint(eager=True)
            # one action instead of two (round 12): the per-directory
            # grouping of tombstone addresses also answers n_matched
            per_dir = {
                r["_d"]: int(r["n"])
                for r in matched.groupBy(
                    F.regexp_extract(
                        "_dv_path", "^(.*)/[^/]+$", 1
                    ).alias("_d")
                ).agg(F.count(F.lit(1)).alias("n")).collect()
            }
            n_matched = sum(per_dir.values())
        else:
            # bounds excluded every directory: nothing can match — an
            # empty keyed frame keeps make_tail's contract uniform
            from pyspark.sql.types import StructType

            empty = spark.createDataFrame(
                [], StructType.fromJson(pm["schema"])
            )
            matched = empty.select(
                "*",
                F.lit("").alias("_dv_path"),
                F.lit(0).cast("long").alias("_dv_pos"),
            )
            n_matched = 0
        tail = make_tail(matched).localCheckpoint(eager=True)
        committed = [
            (f_["name"], f_["type"]) for f_ in pm["schema"]["fields"]
        ]
        produced = [
            (f_["name"], f_["type"])
            for f_ in tail.schema.jsonValue()["fields"]
        ]
        if committed != produced:
            raise ValueError(
                f"{op} tail must match the committed schema; "
                f"committed={committed} produced={produced}"
            )
        n_tail = tail.count()
        if n_matched == 0 and n_tail == 0:
            return parent  # nothing to tombstone, nothing to insert
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        new_dv = dict(dv)
        dv_dir = None
        if n_matched:
            addrs = matched.select("_dv_path", "_dv_pos")
            dv_dir = os.path.join(root, "dv", f"v{version:05d}-{token}")
            out = (
                addrs.repartition(1)
                if n_matched <= _DV_BROADCAST_MAX_ROWS
                else addrs
            )
            out.write.mode("overwrite").parquet(dv_dir)
            rel_dv = os.path.relpath(dv_dir, root)
            for d, n in per_dir.items():
                e = new_dv.get(d) or {"paths": [], "rows": 0}
                new_dv[d] = {
                    "paths": list(e["paths"]) + [rel_dv],
                    "rows": int(e["rows"]) + n,
                }
        data_list = list(dirs)
        new_stats = dict(stats)
        if n_tail:
            obs_tail, verify_cons = _constraints_obs(tail, root, op)
            data_dir = os.path.join(
                root, "data", f"v{version:05d}-{token}"
            )
            nan_counts, _ = _observed_write(
                _physicalize(obs_tail, pm), data_dir
            )
            if verify_cons is not None:
                verify_cons(data_dir, dv_dir)
            rel = os.path.relpath(data_dir, root)
            data_list.append(rel)
            new_stats[rel] = _dir_stats(root, rel, nan_counts=nan_counts)
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": data_list,
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": op,
                "dv_rows": int(n_matched),
                "rows_landed": int(n_tail),
                "rewritten_dirs": 0,
                "carried_dirs": len(dirs),
            },
            "stats": new_stats,
        }
        if new_dv:
            manifest["dv"] = new_dv
        if pm.get("evolved"):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            if dv_dir is not None:
                shutil.rmtree(dv_dir, ignore_errors=True)
            if n_tail:
                shutil.rmtree(data_dir, ignore_errors=True)
            continue  # lost — rebase both halves onto the new latest
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"{op} lost the manifest CAS {max_retries} times at {root} — "
        "writer contention is pathological; raise max_retries or "
        "serialize writers upstream"
    )


def update_where_dv(
    spark: SparkSession,
    root: str,
    condition: str,
    set_exprs: "dict[str, str]",
    bounds: dict | None = None,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Predicate UPDATE, merge-on-read: matched rows are TOMBSTONED via
    a deletion-vector sidecar and their updated images appended as one
    tail directory — O(matched rows) write amplification where
    ``update_where`` rewrites every touched directory. Same pre-image
    SQL UPDATE semantics (condition and every SET expression evaluate
    against the original row, one select). The tail lands the updated
    images, so a point update on a 100 TB table writes the sidecar +
    the handful of updated rows, never a data directory."""
    for c in set_exprs:
        if "." in c:
            raise ValueError(f"update_where_dv cannot SET nested field {c!r}")

    def matched_rows(keyed: DataFrame) -> DataFrame:
        return keyed.where(F.expr(condition))

    def tail(matched: DataFrame) -> DataFrame:
        missing = [c for c in set_exprs if c not in matched.columns]
        if missing:
            raise ValueError(
                f"update_where_dv SET columns not in table: {missing}"
            )
        cols = [c for c in matched.columns if c not in ("_dv_path", "_dv_pos")]
        return matched.select(*[
            F.expr(set_exprs[c]).cast(matched.schema[c].dataType).alias(c)
            if c in set_exprs else F.col(c)
            for c in cols
        ])

    return _commit_mor(
        spark, root, bounds, matched_rows, tail,
        "update_where_dv", app, max_retries,
    )


def consolidate_dv(
    spark: SparkSession,
    root: str,
    min_sidecars: int = 2,
    app: dict | None = None,
    max_retries: int = 20,
) -> "int | None":
    """DV-only maintenance: merge every deletion-vector sidecar the
    live manifest references into ONE, data untouched. A hot
    merge-on-read table accumulates one sidecar directory per
    ``delete_where_dv``/``update_where_dv``/``commit_upsert(mor=True)``
    commit, and ``_apply_dv`` unions ALL of them on every scan — after
    N point-deletes each read pays N small parquet opens. This folds
    them into a single sidecar (and drops addresses whose data
    directory has since been rewritten out of the dv map — dead weight
    the anti-join could never match), the cheap half of Delta's DV
    compaction: O(deleted rows) read+write, ZERO data directories
    touched.

    The commit is ``data_identical``-stamped — the visible rows are
    bit-for-bit the same, so change-feed ranges spanning it stay on the
    append fast path (pass-through), exactly like ``compact()``.
    Returns the new version, or None when fewer than ``min_sidecars``
    distinct sidecar directories exist (nothing worth folding). CAS
    losses rebase onto the racer's dv map."""
    if min_sidecars < 2:
        raise ValueError("min_sidecars must be >= 2 (1 is already folded)")
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            return None
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        dv = _dv_map(pm)
        all_paths = sorted({p for e in dv.values() for p in e["paths"]})
        if len(all_paths) < min_sidecars:
            return None
        dv_df = spark.read.schema(_DV_ADDR_SCHEMA).parquet(
            *[os.path.join(root, p) for p in all_paths]
        ).select("_dv_path", "_dv_pos")
        # keep only addresses into directories still dv-mapped: a
        # rewritten directory's tombstones are unreachable by any read
        dv_df = dv_df.filter(
            F.regexp_extract("_dv_path", "^(.*)/[^/]+$", 1).isin(
                *dv.keys()
            )
        )
        total = sum(int(e.get("rows", 0)) for e in dv.values())
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        dv_dir = os.path.join(root, "dv", f"v{version:05d}-{token}")
        out = (
            dv_df.repartition(1)
            if total <= _DV_BROADCAST_MAX_ROWS
            else dv_df
        )
        out.write.mode("overwrite").parquet(dv_dir)
        rel_dv = os.path.relpath(dv_dir, root)
        new_dv = {
            d: {"paths": [rel_dv], "rows": int(e["rows"])}
            for d, e in dv.items()
        }
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": _data_list(pm),
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": "consolidate_dv",
                "dv_sidecars_before": len(all_paths),
                "dv_sidecars_after": 1,
                "dv_rows": total,
                # layer-owned pass-through marker: same rows visible
                "data_identical": True,
            },
            "stats": pm.get("stats") or {},
            "dv": new_dv,
        }
        if pm.get("evolved"):
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(dv_dir, ignore_errors=True)
            continue  # lost — rebase onto the racer's dv map
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"consolidate_dv lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def restore(root: str, version: int, max_retries: int = 20,
            app: dict | None = None) -> int:
    """Delta-style RESTORE: make ``version``'s data the LIVE table again
    by committing a NEW version that lists the target's data directories
    BY REFERENCE — no data is read, copied, or rewritten (O(1) driver
    metadata work regardless of table size), history is preserved (the
    rolled-back versions stay time-travel readable until vacuum), and
    the restore itself is just another manifest CAS, so it composes with
    concurrent writers like any commit. The target manifest must still
    be retained (not vacuumed) — its directories are guaranteed live
    because vacuum only reclaims dirs no retained manifest references.

    The restore manifest carries the target's schema, stats, and evolved
    flag verbatim, plus ``app.restore_of`` for audit. A restore is a
    rewrite-class step for the change feed (the directory list does not
    extend the parent's), so ranges spanning it take the keyed diff —
    pass-through would hide the rows the rollback removed.

    Restore validates the target IMMEDIATELY before each CAS attempt:
    the target manifest is re-read inside the retry loop and its data
    directories stat-checked, so a vacuum that reclaims the target
    between attempts raises loudly instead of publishing a LIVE version
    that points at deleted directories. The window between that check
    and the CAS is not closed (two independent CAS ledgers can't be) —
    do NOT run restore concurrently with a vacuum whose keep window
    excludes the target version."""
    app = _scrub_app(app)
    for _ in range(max_retries):
        # re-read the target every attempt: a concurrent vacuum may have
        # reclaimed it (its dirs are old — orphan grace doesn't protect
        # them) while we were losing the CAS to other writers
        with open(_manifest_path(root, version)) as f:
            tm = json.load(f)
        dv_paths = sorted(
            {p for e in _dv_map(tm).values() for p in e["paths"]}
        )
        gone = [
            p for p in (*_data_list(tm), *dv_paths)
            if not os.path.isdir(os.path.join(root, p))
        ]
        if gone:
            raise FileNotFoundError(
                f"restore target v{version} at {root} references vacuumed "
                f"data directories {gone} — the target is no longer "
                "restorable; choose a retained version"
            )
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        if parent == version:
            return parent  # restoring the live version is a no-op
        new_version = parent + 1
        token = uuid.uuid4().hex[:8]
        manifest = {
            "version": new_version,
            "ts": _now(),
            "parent": parent,
            "data": _data_list(tm),
            "schema": tm["schema"],
            "app": {**_scrub_app(app), "restore_of": version},
            "stats": tm.get("stats") or {},
        }
        if _dv_map(tm):
            manifest["dv"] = _dv_map(tm)
        if tm.get("evolved"):
            manifest["evolved"] = True
        # the TARGET's column mapping travels with its schema (set even
        # when empty, so the choke point cannot inherit the LIVE map —
        # which belongs to the live schema, not the restored one);
        # constraints stay LIVE via the choke (table properties: a
        # restore neither resurrects dropped ones nor re-validates —
        # like Delta, it is O(1) metadata and never scans data)
        manifest["colmap"] = _colmap(tm)
        manifest["retired"] = sorted(_retired(tm))
        man_path = _manifest_path(root, new_version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            continue  # lost to a concurrent writer — retry on its child
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(new_version))
        os.replace(ptr_tmp, _pointer_path(root))
        return new_version
    raise RuntimeError(
        f"restore lost the manifest CAS {max_retries} times at {root} — "
        "writer contention is pathological; raise max_retries or "
        "serialize writers upstream"
    )


def commit_upsert(
    spark: SparkSession,
    root: str,
    batch: DataFrame,
    keys: list[str],
    probe: bool = True,
    app: dict | None = None,
    max_retries: int = 20,
    mor: bool = False,
) -> int:
    """Keyed MERGE with PARTIAL rewrite — the Delta MERGE INTO shape:
    batch rows REPLACE same-key table rows (last-writer-wins, whole
    row), unmatched batch rows insert. Unlike ``commit_merge`` (whose
    merge_fn rewrites the WHOLE table every commit), only the data
    directories that can contain a matched key are rewritten:

    1. the batch's per-key-column [min, max] is computed once (one
       small agg — the batch is commit-sized, not table-sized);
    2. a directory whose footer stats prove it disjoint from the batch
       range in ANY key column cannot hold a match (key equality is a
       conjunction) — carried by reference, stats verbatim;
    3. optionally each surviving candidate is probed with a LIMIT-1
       broadcast semi join against the batch's key set — a match-free
       candidate is carried too;
    4. the touched directories are read once, matched keys anti-joined
       out, the batch unioned on, and the result written as ONE new
       tail directory.

    Write amplification is O(touched dirs + batch), not O(table): an
    upsert of recent keys against an id- or time-clustered 100 TB table
    rewrites the handful of directories whose ranges intersect the
    batch. CAS losses rebase the whole split (a racing append's rows
    join the candidate set on retry). The reference's row-locked upsert
    (``Services/OpcSubscribeService.cs:608-612``) is this operation with
    one mutable table; ``commit_merge`` remains for merges that must
    transform unmatched rows too.

    An upsert commit does not extend the parent's directory list, so
    change-feed ranges spanning it take the keyed endpoint diff. The
    batch must match the committed schema (names/types); ``keys`` must
    be unique within the batch (enforced) and within the table (the
    invariant every upsert path maintains)."""
    if not keys:
        raise ValueError("commit_upsert requires at least one key column")
    app = _scrub_app(app)
    batch = batch.localCheckpoint(eager=True)  # stable across CAS retries
    dup = (
        batch.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    ).count()
    if dup:
        raise ValueError(
            "commit_upsert batch has duplicate keys — resolve to one row "
            "per key upstream (e.g. max_by a version column)"
        )
    if batch.limit(1).count() == 0:
        parent = latest_version(root)
        if parent is not None:
            return parent  # empty upsert of an existing table: a no-op
        # empty batch, no table yet: fall through — the initial commit
        # below creates the (empty) table with the batch's schema
    agg = batch.agg(
        *[F.min(k).alias(f"lo_{k}") for k in keys],
        *[F.max(k).alias(f"hi_{k}") for k in keys],
    ).collect()[0]
    bounds = {k: (agg[f"lo_{k}"], agg[f"hi_{k}"]) for k in keys}
    bkeys = batch.select(*keys)

    if mor and latest_version(root) is not None:
        # merge-on-read MERGE (Delta's deletion-vector-enabled MERGE):
        # matched table rows are TOMBSTONED via a DV sidecar and the
        # whole batch appended as one tail — O(batch + matched rows)
        # write amplification, zero directory rewrites; the
        # copy-on-write default remains right when matched rows cluster
        # densely in few directories (the rewrite then also compacts)
        return _commit_mor(
            spark, root, bounds,
            # addresses only: the tail is the batch itself, so column
            # pruning cuts the candidates scan to keys + _metadata
            lambda keyed: keyed.join(
                F.broadcast(bkeys), keys, "left_semi"
            ).select("_dv_path", "_dv_pos"),
            lambda matched: batch,
            "upsert_mor", app, max_retries,
        )

    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            v = _try_commit(batch, root, None, app)
            if v is not None:
                return v
            continue
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        committed = [
            (f_["name"], f_["type"]) for f_ in pm["schema"]["fields"]
        ]
        produced = [
            (f_["name"], f_["type"])
            for f_ in batch.schema.jsonValue()["fields"]
        ]
        if committed != produced:
            raise ValueError(
                "commit_upsert batch must match the committed schema; "
                f"committed={committed} batch={produced}"
            )
        stats = pm.get("stats") or {}
        cm_b = _colmap(pm)
        eff_bounds = (
            {cm_b.get(c, c): b for c, b in bounds.items()}
            if cm_b else bounds
        )
        carried: list[str] = []
        candidates: list[str] = []
        for p in _data_list(pm):
            if not _keep_dir(stats.get(p), eff_bounds):
                carried.append(p)  # disjoint in some key column
            else:
                candidates.append(p)
        if probe and candidates:
            hit = _dirs_with_matches(
                spark, root, pm, candidates,
                lambda df: df.join(F.broadcast(bkeys), keys, "left_semi"),
            )
            touched = [p for p in candidates if p in hit]
            carried += [p for p in candidates if p not in hit]
        else:
            touched = candidates
        if touched:
            old = _read_data(
                spark, pm, [os.path.join(root, p) for p in touched]
            )
            # touched dirs' deletion vectors apply before the merge and
            # fold into the rewritten tail
            old = _logicalize(_apply_dv(spark, root, pm, touched, old), pm)
            tail = old.join(
                F.broadcast(bkeys), keys, "left_anti"
            ).unionByName(batch)
        else:
            tail = batch
        obs_tail, verify_cons = _constraints_obs(tail, root, "upsert")
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
        nan_counts, _ = _observed_write(_physicalize(obs_tail, pm), data_dir)
        if verify_cons is not None:
            verify_cons(data_dir)
        rel = os.path.relpath(data_dir, root)
        # empty-tail guard (same as _commit_rewrite_where): an empty
        # batch against match-free candidates can write zero parquet
        # part files — listing that directory would break schema
        # inference on a later read_version of this version
        try:
            has_rows = any(
                n.endswith(".parquet") for n in os.listdir(data_dir)
            )
        except OSError:
            has_rows = False
        if not has_rows:
            shutil.rmtree(data_dir, ignore_errors=True)
            if not touched:
                # empty batch, nothing rewritten: the table is unchanged
                # — report the parent rather than committing a no-op
                return parent
        new_stats = {p: s for p, s in stats.items() if p in set(carried)}
        if has_rows:
            new_stats[rel] = _dir_stats(root, rel, nan_counts=nan_counts)
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": carried + ([rel] if has_rows else []),
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": "upsert",
                "carried_dirs": len(carried),
                "rewritten_dirs": len(touched),
            },
            "stats": new_stats,
        }
        dv_carried = {
            d: e for d, e in _dv_map(pm).items() if d in set(carried)
        }
        if dv_carried:
            manifest["dv"] = dv_carried
        if pm.get("evolved") and carried:
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(data_dir, ignore_errors=True)
            continue  # lost — rebase the split and rewrite
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"commit_upsert lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def commit_full_sync(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    keys: list[str],
    probe: bool = True,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Full-sync MERGE — the three-clause Delta MERGE (``WHEN MATCHED
    UPDATE, WHEN NOT MATCHED INSERT, WHEN NOT MATCHED BY SOURCE
    DELETE``) in one commit: after it, the table's rows EQUAL
    ``source``'s. The reference's J5 Venn reconcile
    (``Extensions/CommonExtensions.cs:9-48``: partition a desired-state
    set against current state into add/update/remove) at table scale.

    Directory efficiency is the point — a naive implementation is
    ``commit_version(source)`` (rewrite everything). Here:

    1. one keyed diff of source vs the current snapshot classifies
       every key as unchanged / updated / inserted / deleted (null-safe
       struct equality — the ``snapshot_diff`` comparison);
    2. directories are split exactly like ``commit_upsert``: a
       directory whose footer stats prove it disjoint from the
       (updated ∪ deleted) key range — or, with ``probe``, one whose
       rows broadcast-semi-join that key set empty — holds ONLY
       unchanged rows and is CARRIED by reference, stats and deletion
       vectors verbatim;
    3. touched directories are read once (vectors applied), their
       changed/deleted keys anti-joined out, and the source's updated +
       inserted rows appended as ONE new tail directory.

    Write amplification is O(touched dirs + changes), not O(table): a
    daily config mirror against an id-clustered table rewrites the
    directories where something actually changed. UNCHANGED matched
    rows are carried — their column values stay byte-identical, which
    is what distinguishes this from upserting the whole source.

    A full-sync commit does not extend the parent's directory list, so
    change-feed ranges spanning it take the keyed endpoint diff (which
    then reports exactly the insert/update/delete set). ``source`` must
    match the committed schema and be key-unique (enforced). Returns
    the new version, or the unchanged parent when source == table."""
    if not keys:
        raise ValueError("commit_full_sync requires at least one key column")
    app = _scrub_app(app)
    source = source.localCheckpoint(eager=True)
    dup = (
        source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
    ).count()
    if dup:
        raise ValueError(
            "commit_full_sync source has duplicate keys — resolve to one "
            "row per key upstream"
        )
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            v = _try_commit(source, root, None, app)
            if v is not None:
                return v
            continue
        try:
            with open(_manifest_path(root, parent)) as f:
                pm = json.load(f)
        except FileNotFoundError:
            continue  # parent vacuumed under us — rebase onto new latest
        committed = [
            (f_["name"], f_["type"]) for f_ in pm["schema"]["fields"]
        ]
        produced = [
            (f_["name"], f_["type"])
            for f_ in source.schema.jsonValue()["fields"]
        ]
        if committed != produced:
            raise ValueError(
                "commit_full_sync source must match the committed schema; "
                f"committed={committed} source={produced}"
            )
        current = read_version(spark, root, parent)
        cols = source.columns
        nonkeys = [c for c in cols if c not in keys]
        payload = (
            F.struct(*[F.col(c) for c in nonkeys]) if nonkeys else F.lit(0)
        )
        cur_k = current.select(*keys, payload.alias("_pre"))
        src_k = source.select(*keys, payload.alias("_post"))
        j = cur_k.join(src_k, keys, "full_outer").select(
            *keys,
            F.col("_pre").isNull().alias("_ins"),
            F.col("_post").isNull().alias("_del"),
            (
                F.col("_pre").isNotNull()
                & F.col("_post").isNotNull()
                & ~F.col("_pre").eqNullSafe(F.col("_post"))
            ).alias("_upd"),
        )
        # keys whose TABLE rows must leave their directories: updated
        # (replaced by the source row) or deleted (gone)
        badkeys = (
            j.filter(F.col("_upd") | F.col("_del"))
            .select(*keys)
            .localCheckpoint(eager=True)
        )
        # rows the new tail gains: the source's updated + inserted rows
        newkeys = (
            j.filter(F.col("_upd") | F.col("_ins"))
            .select(*keys)
            .localCheckpoint(eager=True)
        )
        n_changed = badkeys.count()
        # unlike commit_upsert's batch-bounded keys, these diff frames can
        # approach the whole source on a divergent first sync — broadcast
        # only under the DV threshold, otherwise leave the strategy to AQE
        n_gain = newkeys.count()
        gain_keys = (
            F.broadcast(newkeys)
            if n_gain <= _DV_BROADCAST_MAX_ROWS
            else newkeys
        )
        bad_keys = (
            F.broadcast(badkeys)
            if n_changed <= _DV_BROADCAST_MAX_ROWS
            else badkeys
        )
        tail_rows = source.join(
            gain_keys, keys, "left_semi"
        ).localCheckpoint(eager=True)
        n_new = tail_rows.count()
        if n_changed == 0 and n_new == 0:
            return parent  # source == table: a no-op commits nothing
        # directory split on the departing keys' range (commit_upsert's
        # discipline); a table with nothing to remove touches nothing
        stats = pm.get("stats") or {}
        carried: list[str] = []
        if n_changed:
            agg = badkeys.agg(
                *[F.min(k).alias(f"lo_{k}") for k in keys],
                *[F.max(k).alias(f"hi_{k}") for k in keys],
            ).collect()[0]
            bounds = {k: (agg[f"lo_{k}"], agg[f"hi_{k}"]) for k in keys}
            cm_b = _colmap(pm)
            if cm_b:
                bounds = {cm_b.get(c, c): b for c, b in bounds.items()}
            candidates: list[str] = []
            for p in _data_list(pm):
                if not _keep_dir(stats.get(p), bounds):
                    carried.append(p)
                else:
                    candidates.append(p)
            if probe and candidates:
                hit = _dirs_with_matches(
                    spark, root, pm, candidates,
                    lambda df: df.join(bad_keys, keys, "left_semi"),
                )
                touched = [p for p in candidates if p in hit]
                carried += [p for p in candidates if p not in hit]
            else:
                touched = candidates
        else:
            carried = list(_data_list(pm))
            touched = []
        if touched:
            touched_paths = [os.path.join(root, p) for p in touched]
            old = _read_data(spark, pm, touched_paths)
            old = _logicalize(_apply_dv(spark, root, pm, touched, old), pm)
            tail = old.join(bad_keys, keys, "left_anti").unionByName(
                tail_rows
            )
        else:
            tail = tail_rows
        obs_tail, verify_cons = _constraints_obs(tail, root, "full_sync")
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        data_dir = os.path.join(root, "data", f"v{version:05d}-{token}")
        nan_counts, _ = _observed_write(_physicalize(obs_tail, pm), data_dir)
        if verify_cons is not None:
            verify_cons(data_dir)
        rel = os.path.relpath(data_dir, root)
        try:
            has_rows = any(
                n.endswith(".parquet") for n in os.listdir(data_dir)
            )
        except OSError:
            has_rows = False
        if not has_rows:
            shutil.rmtree(data_dir, ignore_errors=True)
        new_stats = {p: s for p, s in stats.items() if p in set(carried)}
        if has_rows:
            new_stats[rel] = _dir_stats(root, rel, nan_counts=nan_counts)
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": carried + ([rel] if has_rows else []),
            "schema": pm["schema"],
            "app": {
                **_scrub_app(app),
                "op": "full_sync",
                "carried_dirs": len(carried),
                "rewritten_dirs": len(touched),
                "rows_changed": int(n_changed),
                "rows_landed": int(n_new),
            },
            "stats": new_stats,
        }
        dv_carried = {
            d: e for d, e in _dv_map(pm).items() if d in set(carried)
        }
        if dv_carried:
            manifest["dv"] = dv_carried
        if pm.get("evolved") and carried:
            manifest["evolved"] = True
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            if has_rows:
                shutil.rmtree(data_dir, ignore_errors=True)
            continue  # lost — rebase the diff and split
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"commit_full_sync lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )


def compact_zorder(
    spark: SparkSession,
    root: str,
    col_x: str,
    col_y: str,
    n_dirs: int = 16,
    bits: int = 8,
    app: dict | None = None,
    max_retries: int = 20,
) -> int:
    """Delta ``OPTIMIZE ... ZORDER BY (x, y)`` for the versioned table:
    commit the current snapshot rewritten as up to ``n_dirs`` data
    directories partitioned by CONTIGUOUS Morton z-value ranges of
    ``(col_x, col_y)`` — quantile-rank z-ordering, the same curve the
    plain-parquet E12 layout uses (``operators/sink.py``). Because each
    directory then covers a small rectangle of (x, y) space, the
    manifest's per-directory footer stats become selective on BOTH
    columns and ``read_version(prune=)`` skips whole directories for
    2-D range predicates — plain ``compact()`` collapses everything
    into ONE directory, whose [min, max] spans the table and prunes
    nothing. At 100 TB this is the scheduled clustering job that keeps
    point-in-rectangle reads (device x time-range, user x key-range)
    touching a handful of directories.

    Layout-only (data-identical): the commit carries the reserved
    pass-through marker, so change-feed ranges spanning it stay on the
    append fast path, exactly like ``compact()``. CAS losses rebase
    onto the racer's snapshot. The rewrite homogenizes file schemas, so
    a carried ``evolved`` flag resets. One write job — buckets land as
    ``partitionBy`` subdirectories listed individually in the manifest.
    """
    from .sink import interleave_bits, quantile_rank

    if n_dirs < 1:
        raise ValueError(f"n_dirs must be >= 1, got {n_dirs}")
    app = _scrub_app(app)
    nq = (1 << bits) - 1
    for _ in range(max_retries):
        parent = latest_version(root)
        if parent is None:
            raise FileNotFoundError(f"no committed version at {root}")
        with open(_manifest_path(root, parent)) as f:
            pm = json.load(f)
        snap = read_version(spark, root, parent)
        for c in (col_x, col_y):
            if c not in snap.columns:
                raise ValueError(f"z-order column {c!r} not in table")
        bx = snap.approxQuantile(col_x, [i / nq for i in range(1, nq)], 0.001)
        by = snap.approxQuantile(col_y, [i / nq for i in range(1, nq)], 0.001)
        z = interleave_bits(
            quantile_rank(F.col(col_x), bx),
            quantile_rank(F.col(col_y), by),
            bits,
        )
        # contiguous z-ranges -> one bucket column; equal RANGES (not
        # equal sizes) keep the bucket boundaries data-independent
        bucket = F.least(
            (z * n_dirs / F.lit(1 << (2 * bits))).cast("long"),
            F.lit(n_dirs - 1),
        )
        version = parent + 1
        token = uuid.uuid4().hex[:8]
        data_root = os.path.join(root, "data", f"v{version:05d}-{token}")
        (
            # bucket computes over LOGICAL names; files land physical
            # (the `_zb` partition column passes through the mapping)
            _physicalize(snap.withColumn("_zb", bucket), pm)
            .repartition("_zb")
            .write.partitionBy("_zb")
            .mode("overwrite")
            .parquet(data_root)
        )
        subdirs = sorted(
            d for d in os.listdir(data_root) if d.startswith("_zb=")
        )
        rels = [
            os.path.relpath(os.path.join(data_root, d), root)
            for d in subdirs
        ]
        stats = {rel: _dir_stats(root, rel) for rel in rels}
        # metadata-preserving maintenance: re-derive the bloom/sums
        # sidecars the parent's directories were maintaining for each
        # z-bucket (same pass commit_append runs on its tail)
        zb_cols, zs_cols = _meta_cols(pm)
        for rel in rels:
            if zb_cols:
                blooms = _write_dir_blooms(root, rel, zb_cols, spark)
                if blooms:
                    stats[rel][_STATS_BLOOMS] = blooms
            if zs_cols:
                col_sums = _dir_col_sums(root, rel, zs_cols)
                if col_sums:
                    stats[rel][_STATS_SUMS] = col_sums
        manifest = {
            "version": version,
            "ts": _now(),
            "parent": parent,
            "data": rels,
            "schema": pm["schema"],
            "app": {
                "compaction": True,
                "zorder": [col_x, col_y],
                "zorder_dirs": len(rels),
                "data_identical": True,
                **app,
            },
            "stats": stats,
        }
        man_path = _manifest_path(root, version)
        tmp = f"{man_path}.{token}.tmp"
        with open(tmp, "w") as f:
            _dump_manifest(manifest, f, root)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, man_path)  # the CAS: atomic, complete-or-absent
        except FileExistsError:
            os.unlink(tmp)
            shutil.rmtree(data_root, ignore_errors=True)
            continue  # lost — rebase onto the racer's snapshot
        os.unlink(tmp)
        ptr_tmp = f"{_pointer_path(root)}.{token}.tmp"
        with open(ptr_tmp, "w") as f:
            f.write(str(version))
        os.replace(ptr_tmp, _pointer_path(root))
        return version
    raise RuntimeError(
        f"compact_zorder lost the manifest CAS {max_retries} times at "
        f"{root} — writer contention is pathological; raise max_retries "
        "or serialize writers upstream"
    )
