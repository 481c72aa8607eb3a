"""No knob that nobody turns: every defaulted parameter of a top-level
function in ``pygr_spark/`` is set by some caller, or is on ALLOWED
with a one-word reason.

Pure ``ast``; no Spark. The rule:

- a parameter is *set* when a call site passes it, by keyword or by
  position, an expression whose source text (``ast.unparse``) differs
  from the default's;
- a call with ``*args`` or ``**kwargs`` sets every parameter;
- call sites are matched by callee name (``f(...)`` and ``m.f(...)``),
  and same-named top-level defs are treated together;
- an argument that is a bare parameter of the enclosing top-level def
  (a pass-through) is that parameter's default while that parameter is
  unset, so the scan iterates until nothing changes.

Callers are read from ``pygr_spark/``, ``bench.py``,
``__spark_entry__.py``, ``scripts/``, ``perfbench/`` and ``tests/``.
A new knob needs a caller or a test that sets it.

``python tests/test_no_unset_params.py`` prints the unset parameters
and the allowlist entries that are no longer unset.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "pygr_spark"

#: Parameters no caller sets, kept on purpose. ``deployment``: a
#: setting of the machine or database a source talks to; ``format``: a
#: choice of input or output format; ``readme-api``: a parameter of a
#: function README's "Switching from pygr" table maps a pygr idiom
#: onto; ``contract``: a check whose default is its documented
#: behaviour.
ALLOWED = {
    "functions.seqfns.six_frames:id_col": "readme-api",
    "functions.seqfns.six_frames:seq": "readme-api",
    "operators.alignments.two_hop_join:drop_self": "readme-api",
    "operators.alignments.two_hop_join:mid_strategy": "readme-api",
    "operators.alignments.two_hop_join:strategy": "readme-api",
    "operators.annotation.project_annotations:id_col": "readme-api",
    "operators.annotation.project_annotations:orientation": "readme-api",
    "operators.annotation.project_annotations:seq": "readme-api",
    "operators.annotation.project_annotations:seq_id": "readme-api",
    "operators.annotation.project_annotations:start": "readme-api",
    "operators.annotation.project_annotations:stop": "readme-api",
    "operators.graphs.invert:dst": "readme-api",
    "operators.graphs.invert:src": "readme-api",
    "operators.groupmerge.gap_merge:group_col": "readme-api",
    "operators.motif.motif_query:dst": "readme-api",
    "operators.motif.motif_query:injective": "readme-api",
    "operators.motif.motif_query:src": "readme-api",
    "operators.nlmsa.translated_similarity_join:db_id": "readme-api",
    "operators.nlmsa.translated_similarity_join:db_seq": "readme-api",
    "operators.nlmsa.translated_similarity_join:id_col": "readme-api",
    "operators.nlmsa.translated_similarity_join:seq": "readme-api",
    "operators.overlap.overlap_join:lsuffix": "readme-api",
    "operators.overlap.overlap_join:rsuffix": "readme-api",
    "operators.partitioning.read_partitioned:fmt": "readme-api",
    "operators.partitioning.slices_from_chunks:id_col": "readme-api",
    "operators.partitioning.write_partitioned:fmt": "readme-api",
    "operators.partitioning.write_partitioned:mode": "readme-api",
    "operators.similarity.kmer_seed_join:id_col": "readme-api",
    "operators.similarity.kmer_seed_join:text": "readme-api",
    "operators.sweep.coverage_segments:start": "readme-api",
    "operators.sweep.coverage_segments:stop": "readme-api",
    "operators.sweep.sweep_coverage_mask:p_min_aligned": "readme-api",
    "operators.sweep.sweep_coverage_mask:seq": "readme-api",
    "operators.sweep.sweep_coverage_mask:start": "readme-api",
    "operators.sweep.sweep_coverage_mask:stop": "readme-api",
    "operators.sweep.sweep_coverage_mask:total": "readme-api",
    "session.get_spark:rocksdb_state": "deployment",
    "session.load_tables:tables": "deployment",
    "sources.axt.read_axt:q_sizes": "format",
    "sources.external.fasta_formatter:id_col": "format",
    "sources.external.fasta_formatter:seq_col": "format",
    "sources.external.run_external_tool:batch_rows": "deployment",
    "sources.fasta.chunked:id_col": "readme-api",
    "sources.fasta.parse_fasta_records:record": "format",
    "sources.fasta.to_fasta_lines:id_col": "format",
    "sources.fasta.to_fasta_lines:seq": "format",
    "sources.jdbc.read_sql_query:driver": "deployment",
    "sources.jdbc.read_sql_query:properties": "deployment",
    "sources.jdbc.read_sql_table:driver": "deployment",
    "sources.jdbc.read_sql_table:lower_bound": "deployment",
    "sources.jdbc.read_sql_table:properties": "deployment",
    "sources.jdbc.read_sql_table:upper_bound": "deployment",
    "sources.jdbc.sql_graph_edges:driver": "deployment",
    "sources.jdbc.sql_graph_edges:edge": "deployment",
    "sources.jdbc.sql_graph_edges:num_partitions": "deployment",
    "sources.jdbc.sql_graph_edges:partition_col": "deployment",
    "sources.jdbc.sql_graph_edges:properties": "deployment",
    "sources.jdbc.upsert_sql_table:batchsize": "deployment",
    "sources.jdbc.upsert_sql_table:driver": "deployment",
    "sources.jdbc.upsert_sql_table:properties": "deployment",
    "sources.jdbc.write_sql_table:batchsize": "deployment",
    "sources.jdbc.write_sql_table:driver": "deployment",
    "sources.jdbc.write_sql_table:properties": "deployment",
    "validators.assert_unique_key:sample": "contract",
}


def _modname(path):
    return ".".join(path.relative_to(LIB).with_suffix("").parts)


def _caller_files():
    files = sorted(LIB.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for sub in ("scripts", "perfbench", "tests"):
        files += sorted(
            p for p in (ROOT / sub).rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
        )
    return [p for p in files if p.exists()]


def _params(fn):
    """(positional names, {defaulted name: (default source, position or None)})."""
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    out = {}
    for i, d in enumerate(a.defaults):
        k = len(pos) - len(a.defaults) + i
        out[pos[k]] = (ast.unparse(d), k)
    for x, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out[x.arg] = (ast.unparse(d), None)
    return pos, out


def _stored(fn):
    """Names bound anywhere inside fn's body (not its own parameters)."""
    names = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            names.add(node.id)
        elif node is not fn and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
        ):
            a = node.args
            names.update(x.arg for x in a.posonlyargs + a.args + a.kwonlyargs)
            names.update(x.arg for x in (a.vararg, a.kwarg) if x)
    return names


def _calls(tree):
    """(call, enclosing top-level def or None) for every call in tree."""
    for top in tree.body:
        is_def = isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
        enclosing = top if is_def else None
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield node, enclosing


def scan():
    """Return ({key: default source} for every defaulted parameter,
    set of keys no caller sets); key is ``module.func:param``."""
    defs = {}  # func name -> [(key prefix, positional names, defaulted)]
    for path in sorted(LIB.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                pos, dflt = _params(fn)
                prefix = f"{_modname(path)}.{fn.name}"
                defs.setdefault(fn.name, []).append((prefix, pos, dflt))
    all_params = {
        f"{prefix}:{n}": d[0]
        for lst in defs.values()
        for prefix, _, dflt in lst
        for n, d in dflt.items()
    }

    calls = []
    for path in _caller_files():
        tree = ast.parse(path.read_text())
        mod = _modname(path) if LIB in path.parents else None
        for call, top in _calls(tree):
            f = call.func
            name = (
                f.id if isinstance(f, ast.Name)
                else f.attr if isinstance(f, ast.Attribute) else None
            )
            if name not in defs:
                continue
            ctx = None
            if top is not None and mod is not None:
                _, dflt = _params(top)
                ctx = (f"{mod}.{top.name}", dflt, _stored(top))
            calls.append((name, call, ctx))

    unset = set(all_params)
    while True:
        set_now = set()
        for name, call, ctx in calls:
            def src(expr):
                # a bare, never-rebound parameter of the enclosing def that
                # is still unset passes that parameter's default
                if (ctx and isinstance(expr, ast.Name) and expr.id in ctx[1]
                        and expr.id not in ctx[2] and f"{ctx[0]}:{expr.id}" in unset):
                    return ctx[1][expr.id][0]
                return ast.unparse(expr)

            star = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords)
            for prefix, pos, dflt in defs[name]:
                if star:
                    set_now.update(f"{prefix}:{n}" for n in dflt)
                    continue
                passed = {k.arg: k.value for k in call.keywords}
                for i, a in enumerate(call.args):
                    if i < len(pos):
                        passed[pos[i]] = a
                for n, (d, _) in dflt.items():
                    if n in passed and src(passed[n]) != d:
                        set_now.add(f"{prefix}:{n}")
        new_unset = set(all_params) - set_now
        if new_unset == unset:
            return all_params, unset
        unset = new_unset


def test_every_defaulted_parameter_is_set_or_allowed():
    _, unset = scan()
    extra = sorted(unset - set(ALLOWED))
    stale = sorted(set(ALLOWED) - unset)
    assert not extra, (
        f"{len(extra)} defaulted parameters no caller sets:\n" + "\n".join(extra)
    )
    assert not stale, (
        "allowlisted parameters that are set or gone:\n" + "\n".join(stale)
    )


def test_allowlist_reasons_are_one_word():
    assert set(ALLOWED.values()) <= {"deployment", "format", "readme-api", "contract"}


if __name__ == "__main__":
    params, unset = scan()
    print(f"defaulted parameters: {len(params)}; unset: {len(unset)}; "
          f"unset and not allowed: {len(unset - set(ALLOWED))}")
    for k in sorted(unset):
        print(("  " if k in ALLOWED else "- ") + k + " = " + params[k])
    for k in sorted(set(ALLOWED) - unset):
        print("stale allowlist entry:", k)
