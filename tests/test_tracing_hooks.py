"""perfbench's per-layer tracer patches library entry points by name
(``perfbench/tracing.py:Tracer.install_layers``). A refactor that renames
one of them must fail here, not silently break ``perfbench/run.py
--trace 1``."""

from perfbench.tracing import Tracer


def test_install_layers_hooks_resolve_and_uninstall_restores_them():
    tracer = Tracer()
    tracer.install_layers()  # KeyError/AttributeError on a renamed hook
    patched = list(tracer._patches)
    try:
        names = {attr for _, attr, _ in patched}
        for hook in (
            "_seg_stats",
            "_write_segment",
            "_commit_manifest",
            "_segment_paths",
            "track_batch",
            "fetch_df",
            "fetch_multi",
            "read",
            "commit",
        ):
            assert hook in names, hook
        for owner, attr, raw in patched:
            assert getattr(owner, attr) is not raw, f"{attr} not wrapped"
    finally:
        tracer.uninstall()
    assert tracer._patches == []
    for owner, attr, raw in patched:
        now = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        assert now is raw, f"{owner.__name__}.{attr} not restored"
