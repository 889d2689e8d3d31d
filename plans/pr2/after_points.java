/* 001 */ public Object generate(Object[] references) {
/* 002 */   return new GeneratedIteratorForCodegenStage2(references);
/* 003 */ }
/* 004 */
/* 005 */ // codegenStageId=2
/* 006 */ final class GeneratedIteratorForCodegenStage2 extends org.apache.spark.sql.execution.BufferedRowIterator {
/* 007 */   private Object[] references;
/* 008 */   private scala.collection.Iterator[] inputs;
/* 009 */   private scala.collection.Iterator inputadapter_input_0;
/* 010 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[] project_mutableStateArray_1 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter[2];
/* 011 */   private org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[] project_mutableStateArray_0 = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter[2];
/* 012 */
/* 013 */   public GeneratedIteratorForCodegenStage2(Object[] references) {
/* 014 */     this.references = references;
/* 015 */   }
/* 016 */
/* 017 */   public void init(int index, scala.collection.Iterator[] inputs) {
/* 018 */     partitionIndex = index;
/* 019 */     this.inputs = inputs;
/* 020 */     inputadapter_input_0 = inputs[0];
/* 021 */     project_mutableStateArray_0[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(2, 32);
/* 022 */     project_mutableStateArray_1[0] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(project_mutableStateArray_0[0], 8);
/* 023 */     project_mutableStateArray_0[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter(3, 32);
/* 024 */     project_mutableStateArray_1[1] = new org.apache.spark.sql.catalyst.expressions.codegen.UnsafeArrayWriter(project_mutableStateArray_0[1], 8);
/* 025 */
/* 026 */   }
/* 027 */
/* 028 */   protected void processNext() throws java.io.IOException {
/* 029 */     while ( inputadapter_input_0.hasNext()) {
/* 030 */       InternalRow inputadapter_row_0 = (InternalRow) inputadapter_input_0.next();
/* 031 */
/* 032 */       // common sub-expressions
/* 033 */
/* 034 */       boolean inputadapter_isNull_1 = inputadapter_row_0.isNullAt(1);
/* 035 */       ArrayData inputadapter_value_1 = inputadapter_isNull_1 ?
/* 036 */       null : (inputadapter_row_0.getArray(1));
/* 037 */       ArrayData project_out_0 =
/* 038 */       org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.createFreshArray(64, 8);
/* 039 */       int project_n_0 = inputadapter_isNull_1 ? 0 : inputadapter_value_1.numElements();
/* 040 */       for (int project_i_0 = 0; project_i_0 < 64; project_i_0++) {
/* 041 */         if (inputadapter_isNull_1) {
/* 042 */           project_out_0.setNullAt(project_i_0);
/* 043 */         } else if (project_i_0 >= project_n_0) {
/* 044 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_i_0 + 1, project_n_0, ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[0] /* errCtx */));
/* 045 */         } else if (inputadapter_value_1.isNullAt(project_i_0)) {
/* 046 */           project_out_0.setNullAt(project_i_0);
/* 047 */         } else {
/* 048 */           project_out_0.setDouble(project_i_0, (double) (long) java.lang.Math.floor(
/* 049 */               (double) inputadapter_value_1.getFloat(project_i_0) * 1000000.0D + 0.5));
/* 050 */         }
/* 051 */       }
/* 052 */       ArrayData project_value_1 = project_out_0;
/* 053 */
/* 054 */       // common sub-expressions
/* 055 */
/* 056 */       boolean inputadapter_isNull_0 = inputadapter_row_0.isNullAt(0);
/* 057 */       long inputadapter_value_0 = inputadapter_isNull_0 ?
/* 058 */       -1L : (inputadapter_row_0.getLong(0));
/* 059 */       boolean project_isNull_7 = true;
/* 060 */       double project_value_7 = -1.0;
/* 061 */
/* 062 */       project_isNull_7 = false; // resultCode could change nullability.
/* 063 */
/* 064 */       int project_n_1 = java.lang.Math.min(project_value_1.numElements(), project_value_1.numElements());
/* 065 */       double project_acc_0 = 0.0;
/* 066 */       for (int project_i_1 = 0; project_i_1 < project_n_1 && !project_isNull_7; project_i_1++) {
/* 067 */         if (project_value_1.isNullAt(project_i_1) || project_value_1.isNullAt(project_i_1)) {
/* 068 */           project_isNull_7 = true;
/* 069 */         } else {
/* 070 */           project_acc_0 += project_value_1.getDouble(project_i_1) * project_value_1.getDouble(project_i_1);
/* 071 */         }
/* 072 */       }
/* 073 */       project_value_7 = project_acc_0;
/* 074 */       project_mutableStateArray_0[1].reset();
/* 075 */
/* 076 */       project_mutableStateArray_0[1].zeroOutNullBytes();
/* 077 */
/* 078 */       if (inputadapter_isNull_0) {
/* 079 */         project_mutableStateArray_0[1].setNullAt(0);
/* 080 */       } else {
/* 081 */         project_mutableStateArray_0[1].write(0, inputadapter_value_0);
/* 082 */       }
/* 083 */
/* 084 */       // Remember the current cursor so that we can calculate how many bytes are
/* 085 */       // written later.
/* 086 */       final int project_previousCursor_1 = project_mutableStateArray_0[1].cursor();
/* 087 */
/* 088 */       final ArrayData project_tmpInput_1 = project_value_1;
/* 089 */       if (project_tmpInput_1 instanceof UnsafeArrayData) {
/* 090 */         project_mutableStateArray_0[1].write((UnsafeArrayData) project_tmpInput_1);
/* 091 */       } else {
/* 092 */         final int project_numElements_1 = project_tmpInput_1.numElements();
/* 093 */         project_mutableStateArray_1[1].initialize(project_numElements_1);
/* 094 */
/* 095 */         for (int project_index_1 = 0; project_index_1 < project_numElements_1; project_index_1++) {
/* 096 */           if (project_tmpInput_1.isNullAt(project_index_1)) {
/* 097 */             project_mutableStateArray_1[1].setNull8Bytes(project_index_1);
/* 098 */           } else {
/* 099 */             project_mutableStateArray_1[1].write(project_index_1, project_tmpInput_1.getDouble(project_index_1));
/* 100 */           }
/* 101 */
/* 102 */         }
/* 103 */       }
/* 104 */
/* 105 */       project_mutableStateArray_0[1].setOffsetAndSizeFromPreviousCursor(1, project_previousCursor_1);
/* 106 */
/* 107 */       if (project_isNull_7) {
/* 108 */         project_mutableStateArray_0[1].setNullAt(2);
/* 109 */       } else {
/* 110 */         project_mutableStateArray_0[1].write(2, project_value_7);
/* 111 */       }
/* 112 */       append((project_mutableStateArray_0[1].getRow()));
/* 113 */       if (shouldStop()) return;
/* 114 */     }
/* 115 */   }
/* 116 */
/* 117 */ }
