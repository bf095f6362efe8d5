package graft.functions

import org.apache.spark.sql.Column

/** F1: Vietnamese salary normalizer — `normalize_salary(text)` →
  * (salary_min, salary_max, salary_type), as a codegen'd Catalyst
  * expression (no UDF, so the whole staging transform stays inside
  * whole-stage codegen).
  *
  * Semantics follow /root/reference/sql/stored_procedures.sql:6-105
  * branch-for-branch, including evaluation order:
  *   1. null/''/'thoả thuận'        → (0, 0, negotiable)
  *   2. "x - y USD"                 → (x, y)×24000/1e6, range
  *   3. "x - y triệu"               → (x, y), range       (comma→decimal point)
  *   4. "tới x USD" / "tới x triệu" → (0, x), upto
  *   5. "từ x triệu"                → (x, x), from
  *   6. single "x USD"/"x triệu" with no dash → (x, x), range
  *   7. literal "0.0 - 0.0 triệu"   → UNREACHABLE in the reference too:
  *      branch 3's regex matches it first, so the observable result is
  *      (0, 0, 'range') — we preserve the executed behavior, not the
  *      dead branch (the reference's own FIXTURES table is wrong here).
  *   8. anything else               → (0, 0, negotiable)
  * Post-guard (stored_procedures.sql:100-101):
  *   min = coalesce(min, 0); max = coalesce(nullif(max, 0), min).
  *
  * USD amounts strip thousands-commas; "triệu" amounts treat comma as a
  * decimal point ("10,5 triệu" → 10.5). All arithmetic is DECIMAL so
  * ×24000/1e6 is exact (1,500 USD → 36.0, bit-for-bit in any engine);
  * the struct exposes doubles.
  */
object SalaryFns {

  /** Returns struct(salary_min: double, salary_max: double, salary_type: string).
    *
    * Backed by the custom Catalyst expression `NormalizeSalaryExpr`
    * (single evaluation per row, precompiled patterns, codegen). The
    * original `when`/`regexp_extract` chain is the executable
    * specification; it lives in src/test (`SalaryColumnChain`), where
    * SalaryFnsSpec and PropertySpec pin parity against it.
    */
  def normalizeSalary(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NormalizeSalaryExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))
}
