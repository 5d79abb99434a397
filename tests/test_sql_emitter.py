"""Golden strings of the one SQL emitter (operators/gamma.py,
operators/scoring.py, operators/tf.py).

Every Spark-dialect string below is what the scoring plans were built from
before the Column, Spark-SQL and DuckDB compilers became one emitter.
Every DuckDB-dialect string is what the correctness oracles were built
from, with float literals bound as DOUBLE (``CAST('<repr>' AS DOUBLE)``,
as in Spark) where the oracles once had bare DECIMAL literals. They are
literals, captured once, so a change to either dialect's output shows here
first.
"""

import os
import sys

import pytest

from person_linkage_case_study_spark import queries
from person_linkage_case_study_spark.operators.gamma import DUCKDB, SPARK
from person_linkage_case_study_spark.operators.scoring import match_weight_sql
from person_linkage_case_study_spark.operators.tf import tf_adjustment_sql

GAMMA = {'demo:acctbal': {'duckdb': 'CASE WHEN acctbal_l IS NULL OR acctbal_r IS NULL THEN -1 '
                            'WHEN acctbal_l = acctbal_r THEN 2 WHEN abs(acctbal_l - '
                            'acctbal_r) <= 100 THEN 1 ELSE 0 END',
                  'spark': 'CASE WHEN `acctbal_l` IS NULL OR `acctbal_r` IS NULL THEN '
                           '-1 WHEN `acctbal_l` = `acctbal_r` THEN 2 WHEN '
                           'abs(`acctbal_l` - `acctbal_r`) <= 100 THEN 1 ELSE 0 END'},
 'demo:name': {'duckdb': 'CASE WHEN name_l IS NULL OR name_r IS NULL THEN -1 WHEN '
                         'name_l = name_r THEN 3 WHEN jaro_winkler_similarity(name_l, '
                         "name_r) >= CAST('0.9' AS DOUBLE) THEN 2 WHEN "
                         "jaro_winkler_similarity(name_l, name_r) >= CAST('0.7' AS "
                         'DOUBLE) THEN 1 ELSE 0 END',
               'spark': 'CASE WHEN `name_l` IS NULL OR `name_r` IS NULL THEN -1 WHEN '
                        "`name_l` = `name_r` THEN 3 WHEN `__jw_name` >= CAST('0.9' AS "
                        "DOUBLE) THEN 2 WHEN `__jw_name` >= CAST('0.7' AS DOUBLE) THEN "
                        '1 ELSE 0 END'},
 'mini:first_name_15': {'duckdb': 'CASE WHEN first_name_15_l IS NULL OR '
                                  'first_name_15_r IS NULL THEN -1 WHEN '
                                  'first_name_15_l = first_name_15_r THEN 3 WHEN '
                                  'jaro_winkler_similarity(first_name_15_l, '
                                  "first_name_15_r) >= CAST('0.9' AS DOUBLE) THEN 2 "
                                  'WHEN jaro_winkler_similarity(first_name_15_l, '
                                  "first_name_15_r) >= CAST('0.75' AS DOUBLE) THEN 1 "
                                  'ELSE 0 END',
                        'spark': 'CASE WHEN `first_name_15_l` IS NULL OR '
                                 '`first_name_15_r` IS NULL THEN -1 WHEN '
                                 '`first_name_15_l` = `first_name_15_r` THEN 3 WHEN '
                                 "`__jw_first_name_15` >= CAST('0.9' AS DOUBLE) THEN 2 "
                                 "WHEN `__jw_first_name_15` >= CAST('0.75' AS DOUBLE) "
                                 'THEN 1 ELSE 0 END'},
 'mini:last_name_12': {'duckdb': 'CASE WHEN last_name_12_l IS NULL OR last_name_12_r '
                                 'IS NULL THEN -1 WHEN last_name_12_l = last_name_12_r '
                                 'THEN 2 WHEN jaro_winkler_similarity(last_name_12_l, '
                                 "last_name_12_r) >= CAST('0.9' AS DOUBLE) THEN 1 ELSE "
                                 '0 END',
                       'spark': 'CASE WHEN `last_name_12_l` IS NULL OR '
                                '`last_name_12_r` IS NULL THEN -1 WHEN '
                                '`last_name_12_l` = `last_name_12_r` THEN 2 WHEN '
                                "`__jw_last_name_12` >= CAST('0.9' AS DOUBLE) THEN 1 "
                                'ELSE 0 END'},
 'pvs:day_of_birth': {'duckdb': 'CASE WHEN day_of_birth_l IS NULL OR day_of_birth_r IS '
                                'NULL THEN -1 WHEN day_of_birth_l = day_of_birth_r '
                                'THEN 2 WHEN abs(day_of_birth_l - day_of_birth_r) <= 5 '
                                'THEN 1 ELSE 0 END',
                      'spark': 'CASE WHEN `day_of_birth_l` IS NULL OR `day_of_birth_r` '
                               'IS NULL THEN -1 WHEN `day_of_birth_l` = '
                               '`day_of_birth_r` THEN 2 WHEN abs(`day_of_birth_l` - '
                               '`day_of_birth_r`) <= 5 THEN 1 ELSE 0 END'},
 'pvs:first_name_15': {'duckdb': 'CASE WHEN first_name_15_l IS NULL OR first_name_15_r '
                                 'IS NULL THEN -1 WHEN first_name_15_l = '
                                 'first_name_15_r THEN 3 WHEN '
                                 'jaro_winkler_similarity(first_name_15_l, '
                                 "first_name_15_r) >= CAST('0.9' AS DOUBLE) THEN 2 "
                                 'WHEN jaro_winkler_similarity(first_name_15_l, '
                                 "first_name_15_r) >= CAST('0.75' AS DOUBLE) THEN 1 "
                                 'ELSE 0 END',
                       'spark': 'CASE WHEN `first_name_15_l` IS NULL OR '
                                '`first_name_15_r` IS NULL THEN -1 WHEN '
                                '`first_name_15_l` = `first_name_15_r` THEN 3 WHEN '
                                "`__jw_first_name_15` >= CAST('0.9' AS DOUBLE) THEN 2 "
                                "WHEN `__jw_first_name_15` >= CAST('0.75' AS DOUBLE) "
                                'THEN 1 ELSE 0 END'},
 'pvs:geokey': {'duckdb': 'CASE WHEN geokey_l IS NULL OR geokey_r IS NULL THEN -1 WHEN '
                          'geokey_l = geokey_r THEN 1 ELSE 0 END',
                'spark': 'CASE WHEN `geokey_l` IS NULL OR `geokey_r` IS NULL THEN -1 '
                         'WHEN `geokey_l` = `geokey_r` THEN 1 ELSE 0 END'},
 'pvs:last_name_12': {'duckdb': 'CASE WHEN last_name_12_l IS NULL OR last_name_12_r IS '
                                'NULL THEN -1 WHEN last_name_12_l = last_name_12_r '
                                'THEN 3 WHEN jaro_winkler_similarity(last_name_12_l, '
                                "last_name_12_r) >= CAST('0.9' AS DOUBLE) THEN 2 WHEN "
                                'jaro_winkler_similarity(last_name_12_l, '
                                "last_name_12_r) >= CAST('0.75' AS DOUBLE) THEN 1 ELSE "
                                '0 END',
                      'spark': 'CASE WHEN `last_name_12_l` IS NULL OR `last_name_12_r` '
                               'IS NULL THEN -1 WHEN `last_name_12_l` = '
                               '`last_name_12_r` THEN 3 WHEN `__jw_last_name_12` >= '
                               "CAST('0.9' AS DOUBLE) THEN 2 WHEN `__jw_last_name_12` "
                               ">= CAST('0.75' AS DOUBLE) THEN 1 ELSE 0 END"},
 'pvs:middle_initial': {'duckdb': 'CASE WHEN middle_initial_l IS NULL OR '
                                  'middle_initial_r IS NULL THEN -1 WHEN '
                                  'middle_initial_l = middle_initial_r THEN 1 ELSE 0 '
                                  'END',
                        'spark': 'CASE WHEN `middle_initial_l` IS NULL OR '
                                 '`middle_initial_r` IS NULL THEN -1 WHEN '
                                 '`middle_initial_l` = `middle_initial_r` THEN 1 ELSE '
                                 '0 END'},
 'pvs:month_of_birth': {'duckdb': 'CASE WHEN month_of_birth_l IS NULL OR '
                                  'month_of_birth_r IS NULL THEN -1 WHEN '
                                  'month_of_birth_l = month_of_birth_r THEN 2 WHEN '
                                  'abs(month_of_birth_l - month_of_birth_r) <= 3 THEN '
                                  '1 ELSE 0 END',
                        'spark': 'CASE WHEN `month_of_birth_l` IS NULL OR '
                                 '`month_of_birth_r` IS NULL THEN -1 WHEN '
                                 '`month_of_birth_l` = `month_of_birth_r` THEN 2 WHEN '
                                 'abs(`month_of_birth_l` - `month_of_birth_r`) <= 3 '
                                 'THEN 1 ELSE 0 END'},
 'pvs:year_of_birth': {'duckdb': 'CASE WHEN year_of_birth_l IS NULL OR year_of_birth_r '
                                 'IS NULL THEN -1 WHEN year_of_birth_l = '
                                 'year_of_birth_r THEN 2 WHEN abs(year_of_birth_l - '
                                 'year_of_birth_r) <= 5 THEN 1 ELSE 0 END',
                       'spark': 'CASE WHEN `year_of_birth_l` IS NULL OR '
                                '`year_of_birth_r` IS NULL THEN -1 WHEN '
                                '`year_of_birth_l` = `year_of_birth_r` THEN 2 WHEN '
                                'abs(`year_of_birth_l` - `year_of_birth_r`) <= 5 THEN '
                                '1 ELSE 0 END'},
 'tf:brand': {'duckdb': 'CASE WHEN brand_l IS NULL OR brand_r IS NULL THEN -1 WHEN '
                        'brand_l = brand_r THEN 1 ELSE 0 END',
              'spark': 'CASE WHEN `brand_l` IS NULL OR `brand_r` IS NULL THEN -1 WHEN '
                       '`brand_l` = `brand_r` THEN 1 ELSE 0 END'},
 'tf:price': {'duckdb': 'CASE WHEN price_l IS NULL OR price_r IS NULL THEN -1 WHEN '
                        'price_l = price_r THEN 2 WHEN abs(price_l - price_r) <= 100 '
                        'THEN 1 ELSE 0 END',
              'spark': 'CASE WHEN `price_l` IS NULL OR `price_r` IS NULL THEN -1 WHEN '
                       '`price_l` = `price_r` THEN 2 WHEN abs(`price_l` - `price_r`) '
                       '<= 100 THEN 1 ELSE 0 END'}}

WEIGHT = {'demo': {'duckdb': "CAST('-9.964340867792417' AS DOUBLE) + (CASE WHEN gamma_name = -1 "
                    'THEN CAST(0.0 AS DOUBLE) WHEN gamma_name = 0 THEN '
                    "CAST('-4.087462841250339' AS DOUBLE) WHEN gamma_name = 1 THEN "
                    "CAST('0.0' AS DOUBLE) WHEN gamma_name = 2 THEN "
                    "CAST('2.643856189774725' AS DOUBLE) WHEN gamma_name = 3 THEN "
                    "CAST('5.906890595608519' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) "
                    '+ (CASE WHEN gamma_acctbal = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                    "gamma_acctbal = 0 THEN CAST('-3.169925001442312' AS DOUBLE) WHEN "
                    "gamma_acctbal = 1 THEN CAST('1.7369655941662063' AS DOUBLE) WHEN "
                    "gamma_acctbal = 2 THEN CAST('5.906890595608519' AS DOUBLE) ELSE "
                    'CAST(0.0 AS DOUBLE) END)',
          'spark': "CAST('-9.964340867792417' AS DOUBLE) + (CASE WHEN `gamma_name` = "
                   '-1 THEN CAST(0.0 AS DOUBLE) WHEN `gamma_name` = 0 THEN '
                   "CAST('-4.087462841250339' AS DOUBLE) WHEN `gamma_name` = 1 THEN "
                   "CAST('0.0' AS DOUBLE) WHEN `gamma_name` = 2 THEN "
                   "CAST('2.643856189774725' AS DOUBLE) WHEN `gamma_name` = 3 THEN "
                   "CAST('5.906890595608519' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) "
                   '+ (CASE WHEN `gamma_acctbal` = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                   "`gamma_acctbal` = 0 THEN CAST('-3.169925001442312' AS DOUBLE) WHEN "
                   "`gamma_acctbal` = 1 THEN CAST('1.7369655941662063' AS DOUBLE) WHEN "
                   "`gamma_acctbal` = 2 THEN CAST('5.906890595608519' AS DOUBLE) ELSE "
                   'CAST(0.0 AS DOUBLE) END)'},
 'mini': {'duckdb': "CAST('-6.6293566200796095' AS DOUBLE) + (CASE WHEN "
                    'gamma_first_name_15 = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                    "gamma_first_name_15 = 0 THEN CAST('-5.491853096329675' AS DOUBLE) "
                    "WHEN gamma_first_name_15 = 1 THEN CAST('0.0' AS DOUBLE) WHEN "
                    "gamma_first_name_15 = 2 THEN CAST('2.736965594166206' AS DOUBLE) "
                    "WHEN gamma_first_name_15 = 3 THEN CAST('5.189824558880018' AS "
                    'DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) + (CASE WHEN '
                    'gamma_last_name_12 = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                    "gamma_last_name_12 = 0 THEN CAST('-2.8073549220576037' AS DOUBLE) "
                    "WHEN gamma_last_name_12 = 1 THEN CAST('1.0' AS DOUBLE) WHEN "
                    "gamma_last_name_12 = 2 THEN CAST('1.807354922057604' AS DOUBLE) "
                    'ELSE CAST(0.0 AS DOUBLE) END)',
          'spark': "CAST('-6.6293566200796095' AS DOUBLE) + (CASE WHEN "
                   '`gamma_first_name_15` = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                   "`gamma_first_name_15` = 0 THEN CAST('-5.491853096329675' AS "
                   "DOUBLE) WHEN `gamma_first_name_15` = 1 THEN CAST('0.0' AS DOUBLE) "
                   "WHEN `gamma_first_name_15` = 2 THEN CAST('2.736965594166206' AS "
                   'DOUBLE) WHEN `gamma_first_name_15` = 3 THEN '
                   "CAST('5.189824558880018' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) "
                   '+ (CASE WHEN `gamma_last_name_12` = -1 THEN CAST(0.0 AS DOUBLE) '
                   "WHEN `gamma_last_name_12` = 0 THEN CAST('-2.8073549220576037' AS "
                   "DOUBLE) WHEN `gamma_last_name_12` = 1 THEN CAST('1.0' AS DOUBLE) "
                   "WHEN `gamma_last_name_12` = 2 THEN CAST('1.807354922057604' AS "
                   'DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)'},
 'tf': {'duckdb': "CAST('-9.964340867792417' AS DOUBLE) + (CASE WHEN gamma_brand = -1 "
                  'THEN CAST(0.0 AS DOUBLE) WHEN gamma_brand = 0 THEN '
                  "CAST('-2.263034405833794' AS DOUBLE) WHEN gamma_brand = 1 THEN "
                  "CAST('4.321928094887363' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) + "
                  '(CASE WHEN gamma_price = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                  "gamma_price = 0 THEN CAST('-3.169925001442312' AS DOUBLE) WHEN "
                  "gamma_price = 1 THEN CAST('1.7369655941662063' AS DOUBLE) WHEN "
                  "gamma_price = 2 THEN CAST('5.906890595608519' AS DOUBLE) ELSE "
                  'CAST(0.0 AS DOUBLE) END)',
        'spark': "CAST('-9.964340867792417' AS DOUBLE) + (CASE WHEN `gamma_brand` = -1 "
                 'THEN CAST(0.0 AS DOUBLE) WHEN `gamma_brand` = 0 THEN '
                 "CAST('-2.263034405833794' AS DOUBLE) WHEN `gamma_brand` = 1 THEN "
                 "CAST('4.321928094887363' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) + "
                 '(CASE WHEN `gamma_price` = -1 THEN CAST(0.0 AS DOUBLE) WHEN '
                 "`gamma_price` = 0 THEN CAST('-3.169925001442312' AS DOUBLE) WHEN "
                 "`gamma_price` = 1 THEN CAST('1.7369655941662063' AS DOUBLE) WHEN "
                 "`gamma_price` = 2 THEN CAST('5.906890595608519' AS DOUBLE) ELSE "
                 'CAST(0.0 AS DOUBLE) END)'}}

TF_DUCKDB = (
    "CASE WHEN gamma_brand = 1 AND tf IS NOT NULL"
    " THEN CAST('1.0' AS DOUBLE) * (CAST('-4.643856189774724' AS DOUBLE)"
    " - log2(tf)) ELSE CAST(0.0 AS DOUBLE) END"
)


def _pvs_comparisons():
    # perfbench/pvs.py imports its sibling harness module
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    import pvs

    return pvs.comparisons()


def _models():
    return {
        "demo": queries.demo_linkage_model(),
        "mini": queries._cascade_mini_model(),
        "tf": queries._tf_model(),
    }


def _comparisons():
    out = {f"pvs:{c.col}": c for c in _pvs_comparisons()}
    for tag, model in _models().items():
        out.update({f"{tag}:{c.col}": c for c in model.comparisons})
    return out


@pytest.mark.parametrize("key", sorted(GAMMA))
def test_gamma_sql_golden(key):
    c = _comparisons()[key]
    assert c.gamma_sql(SPARK) == GAMMA[key]["spark"]
    assert c.gamma_sql(DUCKDB) == GAMMA[key]["duckdb"]


@pytest.mark.parametrize("tag", sorted(WEIGHT))
def test_match_weight_sql_golden(tag):
    model = _models()[tag]
    assert match_weight_sql(model, SPARK) == WEIGHT[tag]["spark"]
    assert match_weight_sql(model, DUCKDB) == WEIGHT[tag]["duckdb"]


def test_tf_adjustment_sql_golden():
    """The DuckDB adjustment is the oracle's string; the Spark dialect
    (the adjustment was a Column chain before) differs from it only in
    quoting."""
    brand = queries._tf_model().comparisons[0]
    assert tf_adjustment_sql(brand, DUCKDB, weight=1.0, tf_col="tf") == TF_DUCKDB
    assert tf_adjustment_sql(brand, SPARK, weight=1.0, tf_col="__tf") == (
        "CASE WHEN `gamma_brand` = 1 AND `__tf` IS NOT NULL"
        " THEN CAST('1.0' AS DOUBLE) * (CAST('-4.643856189774724' AS DOUBLE)"
        " - log2(`__tf`)) ELSE CAST(0.0 AS DOUBLE) END"
    )
