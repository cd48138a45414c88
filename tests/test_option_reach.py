"""Guard against option regrowth in the operator library and the plans.

Every defaulted parameter of a public function in
``ocrodjvu_spark/functions/`` or ``ocrodjvu_spark/plans/``, and of a
public method of a public class there, must be passed by some caller
outside the tests: the package itself, ``__spark_entry__.py`` (the gates),
``tools/``, ``bench.py`` or ``perfbench/``. A parameter that only a test
(or nothing) sets is an option nobody uses: make it a constant, or list
it in ``ALLOWED`` with the reason it stays. COVERAGE.md "Option map"
records the measured map behind this list.

The scan is static and by name: a call ``f(...)`` or ``x.f(...)``
passes a parameter when it names it as a keyword, reaches its position,
or spreads ``*args`` / ``**kwargs``. It is an upper bound on what is
set, so it can only miss an unused option, never flag a used one.
"""

from __future__ import annotations

import ast
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATORS = tuple(os.path.join(REPO_ROOT, 'ocrodjvu_spark', d)
                  for d in ('functions', 'plans'))
CALLERS = ('ocrodjvu_spark', 'tools', 'perfbench', '__spark_entry__.py',
           'bench.py')

# (module, function, parameter) -> why it stays although no caller
# outside the tests sets it
ALLOWED = {
    ('bpe', 'train', 'max_local_state'):
        'tier-1 sets 0 to run the distributed merge loop, which no gate '
        'corpus is large enough to reach',
    ('similarity', 'semantic_dedup_pairs', 'max_cluster_size'):
        'skew guard: caps the quadratic within-cluster pairing',
    ('temporal', 'asof_join', 'strict'):
        'the strict (<) as-of semantics, pinned against brute force',
    ('temporal', 'asof_join_bucketed', 'strict'):
        'the strict (<) as-of semantics, pinned against brute force',
    ('textops', 'simhash_neardup_pairs', 'max_bucket_size'):
        'skew guard: caps the quadratic hot-band-bucket self-join',
    ('textops', 'jaccard_pairs', 'max_df'):
        'skew guard: drops ultra-frequent shingles from the self-join',
    ('textops', 'minhash_dedup_pairs', 'max_bucket_size'):
        'skew guard: drops hot band buckets (a window count per band) '
        'before their documents are collected and paired',
    ('snapstore', 'SnapshotTable.overwrite', 'tag'):
        'the documented rebuild of a refresh_incremental view under its '
        'cursor tag',
    ('snapstore', 'SnapshotTable.delete_where', 'partition_col'):
        'a rewrite of a partitioned table must restage partition values '
        '(it raises without); partitioned append is gated',
    ('snapstore', 'SnapshotTable.delete_where', 'prune_filters'):
        'copy-on-write file pruning; tier-1 checks pruned and unpruned '
        'deletes agree',
    ('snapstore', 'SnapshotTable.merge_into', 'partition_col'):
        'as for delete_where: a rewrite of a partitioned table must '
        'restage partition values',
}


def _py_files(path):
    if path.endswith('.py'):
        yield path
        return
    for dirpath, _, names in os.walk(path):
        for name in sorted(names):
            if name.endswith('.py'):
                yield os.path.join(dirpath, name)


def _parse(path):
    with open(path, encoding='utf-8') as fh:
        return ast.parse(fh.read(), path)


def _public_functions(tree):
    """(qualified name, def node, takes self) of every public
    module-level function and public method of a public class."""
    for node in tree.body:
        if getattr(node, 'name', '_').startswith('_'):
            continue
        if isinstance(node, ast.FunctionDef):
            yield node.name, node, False
        elif isinstance(node, ast.ClassDef):
            for fn in node.body:
                if (isinstance(fn, ast.FunctionDef)
                        and not fn.name.startswith('_')):
                    static = any(getattr(d, 'id', None) == 'staticmethod'
                                 for d in fn.decorator_list)
                    yield f'{node.name}.{fn.name}', fn, not static


def operator_options():
    """(module, function, parameter, position or None) for every
    defaulted parameter of a public operator or method; a method's
    positions do not count ``self``."""
    for path in (p for d in OPERATORS for p in _py_files(d)):
        module = os.path.splitext(os.path.basename(path))[0]
        for name, node, method in _public_functions(_parse(path)):
            args = node.args
            positional = (args.posonlyargs + args.args)[int(method):]
            first = len(positional) - len(args.defaults)
            for i, arg in enumerate(positional[first:], first):
                yield module, name, arg.arg, i
            for arg, default in zip(args.kwonlyargs, args.kw_defaults):
                if default is not None:
                    yield module, name, arg.arg, None


def calls_by_name():
    """function name -> [(keywords, n_positional, spreads)] over every
    call outside the tests."""
    calls = {}
    for caller in CALLERS:
        for path in _py_files(os.path.join(REPO_ROOT, caller)):
            for node in ast.walk(_parse(path)):
                if not isinstance(node, ast.Call):
                    continue
                func = node.func
                name = (func.attr if isinstance(func, ast.Attribute)
                        else getattr(func, 'id', None))
                if name is None:
                    continue
                keywords = {k.arg for k in node.keywords}
                spreads = (None in keywords or any(
                    isinstance(a, ast.Starred) for a in node.args))
                calls.setdefault(name, []).append(
                    (keywords, len(node.args), spreads))
    return calls


def unset_options():
    calls = calls_by_name()
    unset = []
    for module, func, param, pos in operator_options():
        # a method is called by its bare name
        name = func.rsplit('.', 1)[-1]
        if not any(param in keywords or spreads
                   or (pos is not None and n_pos > pos)
                   for keywords, n_pos, spreads in calls.get(name, ())):
            unset.append((module, func, param))
    return unset


def test_every_operator_option_is_set_outside_the_tests():
    unexplained = [o for o in unset_options() if o not in ALLOWED]
    assert not unexplained, (
        'options no gate, tool or benchmark sets (make each a constant, '
        'or add it to ALLOWED with its reason):\n'
        + '\n'.join(f'  {m}.{f}({p})' for m, f, p in unexplained))


def test_allowlist_names_only_unset_options():
    # an entry whose option is gone or now set by a caller is stale
    stale = set(ALLOWED) - set(unset_options())
    assert not stale, sorted(stale)
