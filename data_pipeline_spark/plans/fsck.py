"""Table consistency checker (`fsck`): verify that a LakehouseTable's
metadata tree and data files agree — the production "doctor" you run after
an incident, a restore from backup, or a suspicious GC, before trusting the
table again.

The reference ships a verification step for initsync (row-count/content
comparison of source vs target — reference: data_pipeline/verification,
SURVEY.md §2 T10); this is the table-side analog for the lakehouse format
itself: Iceberg users reach for `verify`/`rewrite`-adjacent tooling or
bespoke scripts — here it is one audited sweep.

All checks are driver-side metadata reads (JSON + parquet FOOTERS, the same
threaded zero-data-I/O pattern as file_stats) — O(snapshots + files) small
reads, no Spark job, so it runs in seconds even on tables whose data is
terabytes. `deep=True` additionally cross-checks every recorded manifest
stat against the file's own footer (cluster-key bounds, col_stats; footer
readability) — the invariant behind predicate/key file skipping ("stats never
decide truth" makes a stale bound a PERF bug on the read path, but a
manifest that disagrees with its footer is still a corruption signal worth
failing loudly on).

Checks:
  refs        hint / branch hints / tags resolve to snapshot files
  snapshots   every retained snapshot parses and is format v2; schema +
              spec registry resolve; watermark is monotonic along retained
              parents (except into a rollback child, which restores an
              older one)
  manifests   every referenced manifest exists and parses
  files       every referenced data file exists; no duplicate entries in
              one snapshot; bucket ids within their spec's range
  stats(deep) recorded key/col_stats bounds contain the footer's; footers parse
  orphans     data files no retained snapshot references (advisory — they
              are expire_snapshots' job, reported with age so a grace
              window is distinguishable from a leak)

Returns {"ok", "errors": [...], "warnings": [...], "checked": {...}} —
each finding {"check", "detail", ...context}. Never mutates the table.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from data_pipeline_spark.plans.table_format import LakehouseTable, _stat_codec


def _footer_minmax(md, idx):
    lo, hi = None, None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            continue
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


def fsck(
    table: LakehouseTable,
    deep: bool = False,
    orphan_grace_s: float = 3600.0,
) -> dict:
    errors: list[dict] = []
    warnings: list[dict] = []

    def err(check: str, detail: str, **ctx) -> None:
        errors.append({"check": check, "detail": detail, **ctx})

    def warn(check: str, detail: str, **ctx) -> None:
        warnings.append({"check": check, "detail": detail, **ctx})

    meta = table.meta_dir
    if not os.path.isdir(meta):
        return {
            "ok": False,
            "errors": [{"check": "layout", "detail": f"no _meta dir under {table.path}"}],
            "warnings": [],
            "checked": {},
        }

    # ---------------------------------------------------------------- refs
    heads: dict[str, str] = {}  # ref label -> snapshot file name

    def read_hint(label: str, path: str) -> None:
        try:
            with open(path) as f:
                heads[label] = f.read().strip()
        except FileNotFoundError:
            if label == "main":  # a branch hint may be dropped mid-listing
                err("refs", "version hint missing (table never created or hint lost)")
        except (OSError, UnicodeDecodeError) as e:
            err("refs", f"{os.path.basename(path)} unreadable: {type(e).__name__}: {e}",
                ref=label)

    read_hint("main", table._hint_path())
    for fn in os.listdir(meta):
        if fn.startswith("branch-") and fn.endswith(".hint"):
            read_hint(f"branch:{fn[len('branch-'):-len('.hint')]}", os.path.join(meta, fn))
    try:
        tags = table.tags()
    except (OSError, ValueError) as e:  # ValueError covers JSON and UTF-8 decode
        err("refs", f"refs.json unreadable: {type(e).__name__}: {e}")
        tags = {}
    for name, ref in tags.items():
        heads[f"tag:{name}"] = f"snapshot-{ref['snapshot_id']:08d}.json"

    snap_files = {
        fn for fn in os.listdir(meta)
        if fn.startswith("snapshot-") and fn.endswith(".json")
    }
    for label, fn in heads.items():
        if fn not in snap_files:
            err("refs", f"{label} points at missing {fn}", ref=label)

    # ----------------------------------------------------------- snapshots
    snaps: dict[int, dict] = {}
    for fn in sorted(snap_files):
        try:
            s = table._load_snapshot(fn)
            snaps[s["snapshot_id"]] = s
        except (ValueError, KeyError, OSError) as e:  # ValueError: bad JSON, pre-v2
            err("snapshots", f"{fn} unreadable: {type(e).__name__}: {e}", file=fn)

    schema_cache: dict[int, dict | None] = {}

    def schema_of(sid: int) -> dict | None:
        if sid not in schema_cache:
            try:
                schema_cache[sid] = table._load_schema(sid)
            except (OSError, json.JSONDecodeError):
                schema_cache[sid] = None
        return schema_cache[sid]

    referenced: dict[str, dict] = {}  # rel path -> one owning entry (ctx)
    n_entries = 0
    for sid, snap in sorted(snaps.items()):
        label = f"snapshot {sid}"
        if schema_of(snap["schema_id"]) is None:
            err("snapshots", f"{label}: schema-{snap['schema_id']}.json missing/unreadable",
                snapshot_id=sid)
        parent = snap.get("parent")
        # a rollback child restores its target's older watermark by design
        if parent is not None and parent in snaps and snap.get("kind") != "rollback":
            pw = snaps[parent].get("watermark_lsn") or 0
            sw = snap.get("watermark_lsn") or 0
            if sw < pw:
                err("snapshots",
                    f"{label}: watermark {sw} below parent {parent}'s {pw}",
                    snapshot_id=sid)
        specs = table.table_specs(snap)
        seen_paths: set[str] = set()
        for m in snap["manifests"]:
            try:
                entries = table._manifest_entries(m["name"])
            except (OSError, json.JSONDecodeError) as e:
                err("manifests", f"{label}: {m['name']} unreadable: {e}",
                    snapshot_id=sid, manifest=m["name"])
                continue
            if m["entry_count"] != len(entries):
                err("manifests",
                    f"{label}: {m['name']} lists {len(entries)} entries, "
                    f"manifest-list records {m['entry_count']}",
                    snapshot_id=sid, manifest=m["name"])
            for e in entries:
                n_entries += 1
                p = e["path"]
                if p in seen_paths:
                    err("files", f"{label}: duplicate entry {p}", snapshot_id=sid, path=p)
                seen_paths.add(p)
                spec = e["spec_id"]
                if spec not in specs:
                    err("files", f"{label}: {p} written under spec {spec}, "
                        f"not in the snapshot's spec registry {sorted(specs)}",
                        snapshot_id=sid, path=p)
                elif not (0 <= e["bucket"] < specs[spec]):
                    err("files", f"{label}: {p} bucket {e['bucket']} out of range "
                        f"for spec {spec} ({specs[spec]} buckets)",
                        snapshot_id=sid, path=p)
                referenced.setdefault(p, {"snapshot_id": sid, "entry": e})

    missing = [p for p in referenced if not os.path.exists(os.path.join(table.path, p))]
    for p in sorted(missing):
        err("files", f"referenced data file missing: {p}",
            snapshot_id=referenced[p]["snapshot_id"], path=p)

    # -------------------------------------------------------------- orphans
    now = time.time()
    n_orphans, orphan_bytes, in_grace = 0, 0, 0
    data_dir = os.path.join(table.path, "data")
    if os.path.isdir(data_dir):
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, table.path)
                if rel in referenced:
                    continue
                st = os.stat(full)
                if now - st.st_mtime <= orphan_grace_s:
                    in_grace += 1  # normal churn: awaiting GC / in-flight write
                else:
                    n_orphans += 1
                    orphan_bytes += st.st_size
    if n_orphans:
        warn("orphans",
             f"{n_orphans} unreferenced data files ({orphan_bytes} bytes) older "
             f"than the {orphan_grace_s:.0f}s grace — run expire_snapshots",
             count=n_orphans, bytes=orphan_bytes)

    # -------------------------------------------------------------- deep
    n_deep = 0
    if deep and referenced:
        import pyarrow.parquet as pq

        def check_file(item: tuple[str, dict]) -> list[dict]:
            rel, ctx = item
            e, sid = ctx["entry"], ctx["snapshot_id"]
            out: list[dict] = []
            full = os.path.join(table.path, rel)
            if not os.path.exists(full):
                return out  # already reported above
            try:
                md = pq.ParquetFile(full).metadata
            except Exception as ex:  # noqa: BLE001 — corruption is the point
                return [{"check": "stats", "detail": f"{rel} footer unreadable: {ex}",
                         "snapshot_id": sid, "path": rel}]
            names = md.schema.names

            def contained(rec_lo, rec_hi, col, what, enc=None):
                if col not in names:
                    return
                lo, hi = _footer_minmax(md, names.index(col))
                if lo is None:
                    return
                if enc is not None:
                    try:
                        if isinstance(lo, bytes):
                            lo, hi = lo.decode(), hi.decode()
                        lo, hi = enc(lo), enc(hi)
                    except Exception:  # noqa: BLE001 — un-encodable: skip
                        return
                if (rec_lo is not None and lo < rec_lo) or (rec_hi is not None and hi > rec_hi):
                    out.append({"check": "stats",
                                "detail": f"{rel}: footer {what} [{lo}, {hi}] outside "
                                          f"recorded [{rec_lo}, {rec_hi}]",
                                "snapshot_id": sid, "path": rel})

            # stats were recorded against the WRITE-time schema: resolve
            # field ids / column names there (renames since then don't
            # change what the file holds)
            wsch = schema_of(e["schema_id"])
            by_id = {f["id"]: f for f in wsch["fields"]} if wsch else {}
            if e.get("key_min") is not None and by_id:
                kf = by_id.get(e.get("key_field"))
                if kf is not None:
                    contained(e["key_min"], e["key_max"], kf["name"], "key bounds")
            for fid, mm in (e.get("col_stats") or {}).items():
                f = by_id.get(int(fid))
                if f is None:
                    continue
                enc = _stat_codec(f["type"])
                if enc is None:
                    continue
                contained(mm[0], mm[1], f["name"], f"col {f['name']} bounds", enc=enc)
            return out

        with ThreadPoolExecutor(max_workers=16) as ex:
            for found in ex.map(check_file, sorted(referenced.items())):
                errors.extend(found)
                n_deep += 1

    return {
        "ok": not errors,
        "errors": errors,
        "warnings": warnings,
        "checked": {
            "refs": len(heads),
            "snapshots": len(snaps),
            "entries": n_entries,
            "data_files": len(referenced),
            "deep_checked": n_deep,
            "orphans_in_grace": in_grace,
        },
    }
