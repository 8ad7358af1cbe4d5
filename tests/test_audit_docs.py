"""The doc-drift audit (tools/audit_docs.py) as a test: no Spark session,
zero findings required."""

import importlib.util
import os


def test_audit_docs_reports_no_findings(capsys):
    path = os.path.join(os.path.dirname(__file__), "..", "tools", "audit_docs.py")
    spec = importlib.util.spec_from_file_location("audit_docs", path)
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)
    assert audit.main() == 0, capsys.readouterr().out
