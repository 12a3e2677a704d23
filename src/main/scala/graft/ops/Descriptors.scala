package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ed-Fi descriptor-URI handling (SURVEY.md §2.6 F1-F3 and §2.3 J3/J5).
  *
  * Descriptors are URIs of the form `uri://ed-fi.org/XDescriptor#Code Value`.
  * The reference parses them with Python string splits
  * (reference parquet/Common/pandasWrapper.py:175-195,
  * parquet/Common/descriptor_mapping.py:47-51) and maps
  * (descriptor, codeValue) pairs to universal constants via a case-insensitive
  * right join against a 46-row JSON table
  * (reference parquet/Common/descriptor_mapping.py:71-85).
  *
  * All three parsers are single codegen'd expressions (no UDFs); the constant
  * mapping is an explicit `broadcast` join — at 100 TB the mapping table is
  * still 46 rows, so the join must never shuffle the fact side.
  */
object Descriptors {

  /** `split('#')[-1]` — code value after the hash (F1). */
  def codeValueFromUri(c: Column): Column = substring_index(c, "#", -1)

  /** descriptor name: text between the last '/' and the '#' (F2). */
  def descriptorNameFromUri(c: Column): Column =
    substring_index(substring_index(c, "#", 1), "/", -1)

  /** `split('/')[-1]` — trailing id of an API href (F3). */
  def idFromHref(c: Column): Column = element_at(split(c, "/"), -1)

  /** Attach `constantName` by case-insensitive (descriptor, codeValue) lookup.
    *
    * Matches the reference's right-join semantics with the data on the right:
    * every data row survives; unmapped rows get null constantName; a
    * (descriptor, codeValue) pair present under two constant families fans
    * out (reference descriptor_map.json AssignmentCategory entries) — row
    * multiplication is intentional parity (SURVEY.md §7.4.6).
    */
  def withConstant(
      data: DataFrame,
      mapping: DataFrame, // columns: constantName, descriptor, codeValue
      uriCol: String,
      constantCol: String = "constantName"
  ): DataFrame = {
    val m = broadcast(
      mapping.select(
        col("constantName").as(constantCol),
        lower(col("descriptor")).as("__map_desc"),
        lower(col("codeValue")).as("__map_code")
      )
    )
    data
      .join(
        m,
        lower(descriptorNameFromUri(col(uriCol))) === col("__map_desc") &&
          lower(codeValueFromUri(col(uriCol))) === col("__map_code"),
        "left"
      )
      .drop("__map_desc", "__map_code")
  }
}
