"""No hidden state on foreign objects: the package never stores an
attribute on anything but ``self``. An attribute set on a DataFrame
(say, a numpy bank riding on the frame a trainer returns) is lost on
the first ``select``, re-read or ``createDataFrame(collect())``, and the
reader then silently takes a slower path; state a caller needs travels
in an explicit return value instead."""
import ast
import pathlib

import industry_big_data_time_sequence_process_spark as pkg

_ROOT = pathlib.Path(pkg.__file__).parent

#: (module, stored expression) pairs allowed to store on a foreign
#: object. The protobuf shim in worker_bootstrap.py replaces a function
#: of the vendored protobuf runtime-version module (and marks the
#: original on the wrapper) — patching a third-party module is its job.
_ALLOWED = {
    ("worker_bootstrap.py", "lenient.__wrapped__"),
    ("worker_bootstrap.py", "rv.ValidateProtobufRuntimeVersion"),
}


def _foreign_attribute_stores():
    for path in sorted(_ROOT.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(_ROOT).as_posix()
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Attribute)
                    and isinstance(node.ctx, ast.Store)):
                continue
            if isinstance(node.value, ast.Name) and node.value.id == "self":
                continue
            yield rel, node.lineno, ast.unparse(node)


def test_no_attribute_stores_on_foreign_objects():
    found = [(rel, line, expr) for rel, line, expr
             in _foreign_attribute_stores() if (rel, expr) not in _ALLOWED]
    assert not found, (
        "attribute stored on a non-self object (return the state "
        f"explicitly instead): {found}")


def test_allow_list_entries_still_exist():
    """A stale allow-list entry would silently widen the exemption."""
    seen = {(rel, expr) for rel, _, expr in _foreign_attribute_stores()}
    assert _ALLOWED <= seen, _ALLOWED - seen
