"""Guard against option regrowth in the operator library.

Every defaulted parameter of a public function in
``ocrodjvu_spark/functions/`` must be passed by some caller outside the
tests: the package itself, ``__spark_entry__.py`` (the gates),
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
OPERATORS = os.path.join(REPO_ROOT, 'ocrodjvu_spark', 'functions')
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


def operator_options():
    """(module, function, parameter, position or None) for every
    defaulted parameter of a public module-level operator."""
    for path in _py_files(OPERATORS):
        module = os.path.splitext(os.path.basename(path))[0]
        for node in _parse(path).body:
            if (not isinstance(node, ast.FunctionDef)
                    or node.name.startswith('_')):
                continue
            args = node.args
            positional = args.posonlyargs + args.args
            first = len(positional) - len(args.defaults)
            for i, arg in enumerate(positional[first:], first):
                yield module, node.name, arg.arg, i
            for arg, default in zip(args.kwonlyargs, args.kw_defaults):
                if default is not None:
                    yield module, node.name, arg.arg, None


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
        if not any(param in keywords or spreads
                   or (pos is not None and n_pos > pos)
                   for keywords, n_pos, spreads in calls.get(func, ())):
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
