"""Mutator-inventory guard (r16 verdict ask #5): the single-writer
lease campaign's coverage must be ENUMERABLE, not discovered — r16
leased bucketed/acid/forget/cube/fact but missed rollup's two mutators
because nothing walked the package for mutation sites.  This test does
that walk: every function performing a potentially-destructive write
(``.mode("overwrite")`` / ``fs.delete`` / ``fs.rename``) must either
be lease-guarded (takes/holds a ``writer_lease`` or a lease/fence
handle) or appear in the ALLOWLIST below with a written rationale for
why it is exempt (fresh-target output, best-effort GC of its own
state, or a protocol primitive that implements the lease itself).

Adding a new mutator without a lease or an allowlist entry fails this
test — which is the point.  A stale allowlist entry (function renamed
or deleted) also fails, so the list can't rot.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..", "datawarehouse_code_spark")

# (relpath, qualified function name) -> rationale.  Every entry is a
# deliberate exemption; the rationale is part of the record.
ALLOWLIST = {
    # --- fresh-target batch outputs: each call writes a NEW output
    # dataset the caller names (rerunnable from inputs; never swaps or
    # deletes a live table's data in place) -------------------------
    ("operators/corpus.py", "write_clean_corpus"):
        "fresh-target corpus export (r16 verdict: documented bare "
        "overwrite, caller-rerunnable batch output)",
    ("operators/corpus.py", "prepare_training_corpus"):
        "fresh-target packed-corpus + shard-manifest export (r16 "
        "verdict: documented bare overwrite)",
    ("operators/layout.py", "write_bucketed_table"):
        "fresh-target layout writer (caller materializes a new table)",
    ("operators/layout.py", "zorder_write"):
        "fresh-target z-ordered copy of the input (new path per call)",
    ("operators/text_ml.py", "save_quality_classifier"):
        "fresh-target MLlib model save; model dirs are immutable "
        "artifacts addressed by path",
    # --- best-effort GC of state THIS session created ---------------
    ("operators/iterative.py", "release_checkpoint"):
        "deletes the session's own reliable-checkpoint files (temp "
        "state under the checkpoint dir, never a live table)",
    # --- protocols that ARE the concurrency story -------------------
    ("sources/acid.py", "writer_lease"):
        "the lease implementation itself (create/steal/release of "
        "._wlock); its atomicity is the rename-tombstone steal",
    ("sources/acid.py", "recover_interrupted_swap"):
        "crash-repair primitive; state-guarded idempotent renames, "
        "run by every entry point (writer entries hold the lease)",
    ("sources/acid.py", "_finish_staged_swap"):
        "swap tail shared by leased writers; every caller holds the "
        "lease and fenced immediately before",
    ("sources/bucketed.py", "_apply_bucket_swap"):
        "swap/replay primitive; fenced per bucket via the caller's "
        "lease token (fence=) or invoked under a fresh lease",
    ("sources/bucketed.py", "_repair_compaction_dirs"):
        "crash-repair primitive; callers hold the lease (writer "
        "entries) or acquired it at APPLY_STALE_SEC (reader repair)",
    ("sources/bucketed.py", "recover_interrupted_bucket_swap"):
        "crash-repair entry; writer=True callers hold the lease, the "
        "reader grade acquires it before any mutation",
    ("sources/versioned.py", "_claim"):
        "MVCC commit primitive: the v=N rename IS the atomic claim "
        "(optimistic concurrency by design, no lease wanted)",
    ("sources/versioned.py", "vacuum_versions"):
        "retention GC of superseded immutable versions outside the "
        "read window; live version dirs are never touched",
}

# A function counts as lease-guarded when its own source acquires the
# lease or receives a lease/fence handle from a caller that does.
_GUARD_MARKERS = (
    "writer_lease(",
    "lease.verify",
    "lease.payload",
    "leased_append(",
)
_GUARD_PARAMS = {"lease", "_lease", "held", "fence"}


def _mutating_functions():
    found = {}  # (relpath, qualname) -> (lines, kinds, is_guarded)
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            src = open(path).read()
            tree = ast.parse(src)
            src_lines = src.splitlines()

            stack: list[ast.FunctionDef] = []
            hits: dict[str, list[tuple[int, str]]] = {}

            class V(ast.NodeVisitor):
                def visit_FunctionDef(self, node):
                    stack.append(node)
                    self.generic_visit(node)
                    stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    f = node.func
                    kind = None
                    if isinstance(f, ast.Attribute):
                        if (
                            f.attr == "mode"
                            and node.args
                            and isinstance(node.args[0], ast.Constant)
                            and node.args[0].value in ("overwrite", "append")
                        ):
                            # appends are scanned too (r17 'append
                            # eclipse': an unleased append into a
                            # swap-protocol table can recreate an
                            # aside-renamed target, and the repair
                            # then deletes the aside with the real
                            # rows) — every append must be leased or
                            # carry a rationale like any overwrite
                            kind = f"mode-{node.args[0].value}"
                        elif f.attr in ("delete", "rename") and isinstance(
                            f.value, ast.Name
                        ) and f.value.id == "fs":
                            kind = f"fs.{f.attr}"
                    if kind and stack:
                        q = ".".join(n.name for n in stack)
                        hits.setdefault(q, []).append((node.lineno, kind))
                    self.generic_visit(node)

            V().visit(tree)

            # map qualname -> the OUTERMOST function node (guard
            # markers anywhere inside it, incl. closures, count)
            def outer_node(tree, qual):
                first = qual.split(".")[0]
                for n in ast.walk(tree):
                    if isinstance(n, ast.FunctionDef) and n.name == first:
                        return n
                return None

            for q, items in hits.items():
                node = outer_node(tree, q)
                body = "\n".join(
                    src_lines[node.lineno - 1 : node.end_lineno]
                )
                params = {
                    a.arg
                    for a in (
                        node.args.args
                        + node.args.posonlyargs
                        + node.args.kwonlyargs
                    )
                }
                guarded = any(m in body for m in _GUARD_MARKERS) or bool(
                    params & _GUARD_PARAMS
                )
                key = (rel, q.split(".")[0])
                lines, kinds, g = found.get(key, ([], set(), False))
                lines += [ln for ln, _ in items]
                kinds |= {k for _, k in items}
                found[key] = (lines, kinds, guarded or g)
    return found


def test_every_mutator_is_leased_or_allowlisted():
    found = _mutating_functions()
    assert found, "scanner found no mutation sites — scanner broken?"

    unaccounted = {
        key: (sorted(lines), sorted(kinds))
        for key, (lines, kinds, guarded) in found.items()
        if not guarded and key not in ALLOWLIST
    }
    assert not unaccounted, (
        "functions performing overwrite/delete/rename writes without a "
        "writer lease and without an allowlist rationale (add the lease "
        "— the default — or an ALLOWLIST entry explaining why this "
        f"write cannot corrupt a live table): {unaccounted}"
    )

    # the allowlist must not rot: every entry must still name a real
    # mutating function (renames/removals surface here)
    stale = [k for k in ALLOWLIST if k not in found]
    assert not stale, f"stale ALLOWLIST entries (function gone?): {stale}"


def test_known_leased_mutators_detected_as_guarded():
    """Self-check on the scanner: the lanes this round's campaign
    leased must classify as guarded, not ride the allowlist."""
    found = _mutating_functions()
    for key in [
        ("operators/rollup.py", "_staged_partition_overwrite"),
        ("operators/rollup.py", "_leased_partition_delete"),
        ("operators/similarity.py", "_forget_from_table"),
        ("pipeline.py", "compact_parquet"),
        ("sources/acid.py", "_staged_overwrite"),
        ("sources/bucketed.py", "replace_keyed_bucketed"),
        ("sources/bucketed.py", "write_bucketed"),
    ]:
        assert key in found, f"expected mutator not found: {key}"
        assert found[key][2], f"expected lease-guarded: {key}"
        assert key not in ALLOWLIST
