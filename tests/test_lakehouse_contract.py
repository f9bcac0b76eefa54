"""Lakehouse-backend contract (VERDICT r3 #6): the engine's table layer is
`LakehouseTable` (emulated Iceberg-style commit log — this sandbox has no
iceberg jar and no pyiceberg, so a real-backend adapter stays environment-
blocked). This test pins the INTERFACE a swap-in adapter must implement:
every method the rest of the engine calls (ingest, cascade, WAP, corpus
view, maintenance), with the parameters those callers pass. If a method is
renamed or loses a parameter, this fails — so the adapter seam stays honest
rather than drifting into "whatever LakehouseTable happens to have".

When a future environment gains pyiceberg or the Spark iceberg jar, the
adapter test at the bottom un-skips: implement `IcebergTableAdapter` with
this same surface and the whole engine swaps backends."""

from __future__ import annotations

import inspect

import pytest

from data_pipeline_spark.plans import table_format
from data_pipeline_spark.plans.table_format import LakehouseTable

#: method → parameters the ENGINE'S OWN CALL SITES use (subset of the full
#: signatures; an adapter may add more, never fewer). Derived by grepping
#: the package's calls into the table layer — each entry names at least one
#: in-package caller in the comment.
CONTRACT: dict[str, list[str]] = {
    # identity / metadata ------------------------------------------------
    "exists": [],                              # wap.WapIngestJob.__init__
    "current_snapshot": [],                    # everywhere
    "snapshot_by_id": ["snapshot_id"],         # corpus.snapshot_corpus
    "history": [],                             # cascade lag, cherry_pick
    "schema_struct": ["snap"],                 # cascade._sync_replica_schema
    "renames": ["snap"],                       # payload decode (rename-aware)
    "field_bits": ["snap"],                    # partial-image mask decode
    "update_mode": ["snap"],                   # merge partial/full dispatch
    "files": ["snap"],                         # compaction, tests
    "bucket_expr": ["n_buckets"],              # ingest write path
    # lifecycle / DDL ----------------------------------------------------
    "create": ["schema", "n_buckets"],         # every job setup
    "apply_ddl": ["descriptors"],              # multi_table DDL replication
    # reads ----------------------------------------------------------------
    "read": ["spark", "snapshot_id", "conv_ids", "tag"],  # corpus_view, corpus
    "read_changes": ["spark", "from_snapshot_id"],        # wap.WapContext.changes
    "tail_changes": ["spark", "cursor_path"],  # table-level consumers, tests
    "tail_window": ["cursor_path"],            # cursor.poll_window (all consumers)
    "commit_cursor": ["cursor_path", "cursor"],  # cursor.poll_window commit step
    # writes ---------------------------------------------------------------
    "merge": ["spark"],                        # IngestJob.apply_batch
    "link_merge": ["batch_id", "source", "entries"],  # cascade._apply_replica
    "overwrite": ["spark"],                    # initsync
    "verify_against": ["spark", "source"],     # initsync verification
    # maintenance ----------------------------------------------------------
    "compact": ["spark", "buckets"],           # scripts/maintenance.py
    "maintain": ["spark"],                     # IngestJob maintenance runner
    "delta_depth": ["snap"],                   # IngestJob backlog bound
    "rewrite_manifests": ["target_entries_per_manifest"],  # manifest scaling
    "expire_snapshots": [],                    # retention
    "rollback_to": ["snapshot_id"],            # changelog rollback
    "upgrade": [],                             # scripts/maintenance.py upgrade
    # partition-spec evolution (lazy rebucket at scale) --------------------
    "spec_id": ["snap"],                       # write paths stamp entries
    "table_specs": ["snap"],                   # mixed-spec point-read pruning
    "evolve_bucket_spec": ["spark", "new_n_buckets"],  # scripts/maintenance.py
    "migrate_spec": ["spark", "max_old_buckets"],      # bounded re-layout
    # refs: tags + branches (WAP / reproducible corpora) -------------------
    "tags": [],
    "tag_snapshot": ["name", "snapshot_id", "replace"],  # snapshot_corpus
    "remove_tag": ["name"],
    "branches": [],
    "create_branch": ["name"],                 # WapIngestJob
    "drop_branch": ["name"],
    "reset_branch": ["snapshot_id"],           # WAP audit-fail reset
    "fast_forward": ["from_branch"],           # WAP publish
    "cherry_pick": ["snapshot_id"],            # diverged-branch publish
}


def test_contract_methods_exist_with_required_params():
    missing, bad = [], []
    for name, params in CONTRACT.items():
        fn = getattr(LakehouseTable, name, None)
        if fn is None or not callable(fn):
            missing.append(name)
            continue
        sig = inspect.signature(fn)
        have = set(sig.parameters)
        lost = [p for p in params if p not in have]
        if lost:
            bad.append((name, lost))
    assert not missing, f"contract methods missing from LakehouseTable: {missing}"
    assert not bad, f"contract methods missing required params: {bad}"


def test_constructor_takes_path_and_ref():
    sig = inspect.signature(LakehouseTable.__init__)
    assert "path" in sig.parameters and "ref" in sig.parameters


def test_contract_errors_exported():
    # consumers catch these by type; an adapter must raise the same ones
    assert issubclass(table_format.CommitConflictError, RuntimeError)
    assert issubclass(table_format.CursorExpiredError, RuntimeError)


def test_contract_covers_engine_call_surface():
    """Reverse direction: every PUBLIC LakehouseTable method that the rest
    of the package actually calls must be in the contract — so adding a new
    call site forces a contract (and future-adapter) update."""
    import os
    import re

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(table_format.__file__)))
    called: set[str] = set()
    public = {
        n for n, f in vars(LakehouseTable).items()
        if callable(f) and not n.startswith("_")
    } | {
        n for n, f in vars(LakehouseTable).items()
        if isinstance(f, staticmethod) and not n.startswith("_")
    }
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            if not fname.endswith(".py") or fname == "table_format.py":
                continue
            with open(os.path.join(dirpath, fname)) as f:
                src = f.read()
            for m in re.finditer(r"\.([a-z_][a-z0-9_]*)\(", src):
                if m.group(1) in public:
                    called.add(m.group(1))
    uncovered = called - set(CONTRACT)
    assert not uncovered, (
        f"engine calls LakehouseTable methods outside the contract: "
        f"{sorted(uncovered)} — add them to CONTRACT (and any adapter)"
    )


def test_changelog_reads_go_through_poll_window():
    """One consumer protocol: every changelog consumer polls through
    `streaming/cursor.poll_window`, so no `.tail_changes(`/`.read_changes(`
    call exists outside it and the table layer. The one exception is the
    WAP audit's read of the unpublished branch (`WapContext.changes`),
    which no cursor covers."""
    import os
    import re

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(table_format.__file__)))
    allowed = {os.path.join("streaming", "cursor.py"), os.path.join("plans", "table_format.py")}
    audit = (os.path.join("streaming", "wap.py"), "self.branch.read_changes(")
    found = []
    for dirpath, _, files in os.walk(pkg):
        for fname in files:
            rel = os.path.relpath(os.path.join(dirpath, fname), pkg)
            if not fname.endswith(".py") or rel in allowed:
                continue
            with open(os.path.join(pkg, rel)) as f:
                src = f.read()
            for m in re.finditer(r"[\w.]*\.(?:tail_changes|read_changes)\(", src):
                found.append((rel, m.group(0)))
    assert found.count(audit) == 1, found
    assert [c for c in found if c != audit] == [], (
        "changelog consumers must poll through streaming/cursor.poll_window"
    )


def test_iceberg_adapter_when_available():
    """Un-skips the day the sandbox gains pyiceberg: the adapter must exist
    and satisfy the same contract."""
    pytest.importorskip("pyiceberg")
    from data_pipeline_spark.plans.iceberg_adapter import IcebergTableAdapter  # noqa

    for name in CONTRACT:
        assert callable(getattr(IcebergTableAdapter, name, None)), name
