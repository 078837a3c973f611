"""Validation engine tests (V1-V24 + evaluator semantics)."""

import pytest

from sparvi_spark.operators.validation import (
    Rule,
    evaluate_rule,
    generate_default_rules,
    guess_start_date_column,
    normalize_operator,
    outlier_threshold,
    row_growth_rule_vs,
    run_rules,
    run_validations,
)
from sparvi_spark.testdata import SCHEMAS, ColumnSpec, TableSpec, load_table
from tests.conftest import SF_DIR


# -- evaluator (manager:342-373 semantics + symbolic spellings) -------------

def test_evaluate_none_is_invalid():
    assert evaluate_rule("equals", None, 0) is False


def test_evaluate_equals_numeric_and_string():
    assert evaluate_rule("equals", 0, 0)
    assert evaluate_rule("equals", 0.0, 0)
    assert not evaluate_rule("equals", 1, 0)
    assert evaluate_rule("equals", "abc", "abc")
    assert evaluate_rule("equals", 5, "5")  # string-coerced compare


def test_evaluate_orderings_and_between():
    assert evaluate_rule("greater_than", "10", 5)
    assert evaluate_rule("less_than", 3, "5.5")
    assert evaluate_rule("between", 5, [5, 10])  # inclusive
    assert evaluate_rule("between", 10, [5, 10])
    assert not evaluate_rule("between", 11, [5, 10])
    assert not evaluate_rule("between", 5, [5])  # malformed bounds


def test_evaluate_symbolic_spellings():
    assert normalize_operator(">=") == "greater_or_equal"
    assert evaluate_rule("=", 1, 1)
    assert evaluate_rule("!=", 1, 2)
    assert evaluate_rule(">", 2, 1)
    assert evaluate_rule("<=", 2, 2)


def test_evaluate_coercion_failure_is_invalid():
    assert evaluate_rule("greater_than", "abc", 5) is False


def test_row_growth_semantics(spark):
    # V3 as the Engine runs it: 1200 rows against three previous counts.
    # The CASE flags a change strictly greater than 20%, so +20% is valid.
    rules = [row_growth_rule_vs(f"t{prev}", prev) for prev in (1081, 923, 1000)]
    rows = {r["rule_name"]: r for r in run_rules(spark.range(1200), rules).collect()}
    assert rows["check_t1081_row_growth"]["is_valid"] is True  # +11%
    assert rows["check_t923_row_growth"]["is_valid"] is False  # +30%
    assert rows["check_t1000_row_growth"]["is_valid"] is True  # +20% exactly


# -- generator heuristics ---------------------------------------------------

def test_outlier_threshold_classes():
    assert outlier_threshold("events_log") == 50
    assert outlier_threshold("orders") == 20
    assert outlier_threshold("nation") == 5


def test_generated_rule_families_lineitem():
    rules = generate_default_rules(SCHEMAS["lineitem"])
    names = {r.name for r in rules}
    assert "check_lineitem_not_empty" in names
    assert "check_lineitem_pk_unique" in names
    assert "check_l_quantity_positive" in names
    assert "check_l_tax_not_zero" in names  # 'tax' non-zero pattern
    assert "check_l_shipdate_reasonable_past" in names
    assert "check_l_quantity_outliers" in names
    assert "check_l_partkey_ref_integrity" in names
    assert "check_l_partkey_ref_distribution" in names


def test_guess_start_date_column():
    spec = TableSpec("t", (
        ColumnSpec("start_date", "datetime"), ColumnSpec("end_date", "datetime")))
    assert guess_start_date_column("end_date", spec) == "start_date"


# -- execution on dirty synthetic data (reference employees fixture shape,
#    scripts/generate_test_data.py:20-37) ----------------------------------

@pytest.fixture(scope="module")
def employees(spark):
    rows = []
    for i in range(1, 101):
        salary = None if 5 <= i <= 10 else (500000.0 if i == 25 else 70000.0 + (i % 7) * 1000)
        dept = None if 15 <= i <= 18 else ["Sales", "Marketing", "Engineering", "HR"][i % 4]
        email = "badformat" if i == 50 else f"employee{i}@example.com"
        rows.append((i, f"Employee {i}", dept, salary, email, f"+1 (555) 000-{i:04d}"))
    return spark.createDataFrame(
        rows, "id int, name string, department string, salary double, "
              "email string, phone string")


EMP_SPEC = TableSpec("employees", (
    ColumnSpec("id", "numeric", False),
    ColumnSpec("name", "text", False),
    ColumnSpec("department", "text", True),
    ColumnSpec("salary", "numeric", True),
    ColumnSpec("email", "text", True),
    ColumnSpec("phone", "text", True),
), primary_keys=("id",))


def test_dirty_fixture_detections(spark, employees):
    rules = generate_default_rules(EMP_SPEC)
    results = {r["rule_name"]: r for r in run_validations(employees, rules)}
    # malformed email caught (V13)
    assert results["check_email_valid_email"]["actual_value"] == 1.0
    assert results["check_email_valid_email"]["is_valid"] is False
    # salary outlier caught (V16): 500000 is > 3 sample stddevs out
    assert results["check_salary_outliers"]["actual_value"] >= 1.0
    # pk unique passes (V2)
    assert results["check_employees_pk_unique"]["is_valid"] is True
    # phone format passes (V14 SIMILAR TO translation)
    assert results["check_phone_valid_phone"]["actual_value"] == 0.0
    assert results["check_phone_valid_phone"]["is_valid"] is True


def test_ref_integrity_detects_orphans(spark):
    lineitem = load_table(spark, "lineitem", SF_DIR)
    part = load_table(spark, "part", SF_DIR)
    rule = Rule("check_orphans", "", "equals", 0, "ref_integrity",
                column="l_partkey", ref_table="part", ref_column="p_partkey")
    ok = run_rules(lineitem, [rule], ref_tables={"part": part}).collect()[0]
    assert ok["actual_value"] == 0.0 and ok["is_valid"] is True
    # poison the ref side: drop half the parts -> orphans appear
    broken = run_rules(lineitem, [rule],
                       ref_tables={"part": part.filter("p_partkey < 100")}).collect()[0]
    assert broken["actual_value"] > 0 and broken["is_valid"] is False


def test_custom_sql_rule(spark):
    load_table(spark, "nation", SF_DIR).createOrReplaceTempView("nation_v24")
    rule = Rule("check_custom", "", "equals", 25, "sql",
                sql="SELECT count(*) FROM nation_v24")
    row = run_rules(spark.range(1), [rule], spark=spark).collect()[0]
    assert row["actual_value"] == 25.0 and row["is_valid"] is True


def test_dominance_detection(spark):
    df = spark.createDataFrame([("A",)] * 98 + [("B",)] * 2, "status string")
    spec = TableSpec("t", (ColumnSpec("status", "text", True),))
    rules = [r for r in generate_default_rules(spec) if r.kind == "dominance"]
    assert rules
    row = run_rules(df, rules).collect()[0]
    assert row["actual_value"] == 1.0 and row["is_valid"] is False


def test_spec_from_dataframe_rejects_non_identifier_columns(spark):
    import pytest

    from sparvi_spark.operators.validation import spec_from_dataframe

    ok = spark.createDataFrame([(1, "x")], "id int, name string")
    spec = spec_from_dataframe(ok, "t", primary_keys=("id",))
    assert spec.primary_keys == ("id",)
    assert [c.bucket for c in spec.columns] == ["numeric", "text"]

    bad = spark.createDataFrame([(1,)], "id int").withColumnRenamed("id", "unit price")
    with pytest.raises(ValueError, match="identifier"):
        spec_from_dataframe(bad, "t")


def test_run_rules_edge_inputs(spark):
    """Review-fix pins: empty rule list returns an empty typed frame (not
    IndexError); a zero-row custom SQL rule surfaces as one invalid row
    (not silently vanishing); non-numeric expected values raise a clear
    error pointing at evaluate_rule."""
    import pytest as _pt

    from sparvi_spark.operators.validation import Rule, run_rules

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    empty = run_rules(df, [])
    assert empty.count() == 0
    assert set(empty.columns) == {"rule_name", "operator", "expected_lo",
                                  "expected_hi", "actual_value", "is_valid"}

    df.createOrReplaceTempView("edge_t")
    r = Rule("ghost", "zero-row sql", "equals", 1.0, "sql",
             sql="SELECT id FROM edge_t WHERE id < 0")
    rows = {x["rule_name"]: x for x in run_rules(df, [r], spark=spark).collect()}
    assert rows["ghost"]["actual_value"] is None
    assert rows["ghost"]["is_valid"] is False

    bad = Rule("strrule", "string equals", "equals", "ACTIVE", "agg",
               agg_expr="max(s)")
    with _pt.raises(ValueError, match="evaluate_rule"):
        run_rules(df, [bad])
