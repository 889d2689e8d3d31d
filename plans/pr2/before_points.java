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
/* 032 */       boolean inputadapter_isNull_1 = inputadapter_row_0.isNullAt(1);
/* 033 */       ArrayData inputadapter_value_1 = inputadapter_isNull_1 ?
/* 034 */       null : (inputadapter_row_0.getArray(1));
/* 035 */
/* 036 */       // common sub-expressions
/* 037 */
/* 038 */       ArrayData project_arrayData_0 = ArrayData.allocateArrayData(
/* 039 */         8, 64L, " createArray failed.");
/* 040 */
/* 041 */       boolean project_isNull_4 = true;
/* 042 */       double project_value_4 = -1.0;
/* 043 */       boolean project_isNull_5 = true;
/* 044 */       double project_value_5 = -1.0;
/* 045 */       boolean project_isNull_7 = true;
/* 046 */       float project_value_7 = -1.0f;
/* 047 */
/* 048 */       if (!inputadapter_isNull_1) {
/* 049 */         project_isNull_7 = false; // resultCode could change nullability.
/* 050 */
/* 051 */         int project_elementAtIndex_0 = (int) 1;
/* 052 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_0)) {
/* 053 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_0, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[0] /* errCtx */));
/* 054 */         } else {
/* 055 */           if (project_elementAtIndex_0 == 0) {
/* 056 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[0] /* errCtx */));
/* 057 */           } else if (project_elementAtIndex_0 > 0) {
/* 058 */             project_elementAtIndex_0--;
/* 059 */           } else {
/* 060 */             project_elementAtIndex_0 += inputadapter_value_1.numElements();
/* 061 */           }
/* 062 */
/* 063 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_0)) {
/* 064 */             project_isNull_7 = true;
/* 065 */           } else
/* 066 */
/* 067 */           {
/* 068 */             project_value_7 = inputadapter_value_1.getFloat(project_elementAtIndex_0);
/* 069 */           }
/* 070 */         }
/* 071 */
/* 072 */       }
/* 073 */       boolean project_isNull_6 = project_isNull_7;
/* 074 */       double project_value_6 = -1.0;
/* 075 */       if (!project_isNull_7) {
/* 076 */         project_value_6 = (double) project_value_7;
/* 077 */       }
/* 078 */       if (!project_isNull_6) {
/* 079 */         project_isNull_5 = false; // resultCode could change nullability.
/* 080 */
/* 081 */         project_value_5 = project_value_6 * 1000000.0D;
/* 082 */
/* 083 */       }
/* 084 */       if (!project_isNull_5) {
/* 085 */         project_isNull_4 = false; // resultCode could change nullability.
/* 086 */
/* 087 */         project_value_4 = project_value_5 + 0.5D;
/* 088 */
/* 089 */       }
/* 090 */       boolean project_isNull_3 = project_isNull_4;
/* 091 */       long project_value_3 = -1L;
/* 092 */
/* 093 */       if (!project_isNull_4) {
/* 094 */         project_value_3 = (long)(java.lang.Math.floor(project_value_4));
/* 095 */       }
/* 096 */       boolean project_isNull_2 = project_isNull_3;
/* 097 */       double project_value_2 = -1.0;
/* 098 */       if (!project_isNull_3) {
/* 099 */         project_value_2 = (double) project_value_3;
/* 100 */       }
/* 101 */
/* 102 */       if (project_isNull_2) {
/* 103 */         project_arrayData_0.setNullAt(0);
/* 104 */       } else {
/* 105 */         project_arrayData_0.setDouble(0, project_value_2);
/* 106 */       }
/* 107 */
/* 108 */       boolean project_isNull_14 = true;
/* 109 */       double project_value_14 = -1.0;
/* 110 */       boolean project_isNull_15 = true;
/* 111 */       double project_value_15 = -1.0;
/* 112 */       boolean project_isNull_17 = true;
/* 113 */       float project_value_17 = -1.0f;
/* 114 */
/* 115 */       if (!inputadapter_isNull_1) {
/* 116 */         project_isNull_17 = false; // resultCode could change nullability.
/* 117 */
/* 118 */         int project_elementAtIndex_1 = (int) 2;
/* 119 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_1)) {
/* 120 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_1, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[1] /* errCtx */));
/* 121 */         } else {
/* 122 */           if (project_elementAtIndex_1 == 0) {
/* 123 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[1] /* errCtx */));
/* 124 */           } else if (project_elementAtIndex_1 > 0) {
/* 125 */             project_elementAtIndex_1--;
/* 126 */           } else {
/* 127 */             project_elementAtIndex_1 += inputadapter_value_1.numElements();
/* 128 */           }
/* 129 */
/* 130 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_1)) {
/* 131 */             project_isNull_17 = true;
/* 132 */           } else
/* 133 */
/* 134 */           {
/* 135 */             project_value_17 = inputadapter_value_1.getFloat(project_elementAtIndex_1);
/* 136 */           }
/* 137 */         }
/* 138 */
/* 139 */       }
/* 140 */       boolean project_isNull_16 = project_isNull_17;
/* 141 */       double project_value_16 = -1.0;
/* 142 */       if (!project_isNull_17) {
/* 143 */         project_value_16 = (double) project_value_17;
/* 144 */       }
/* 145 */       if (!project_isNull_16) {
/* 146 */         project_isNull_15 = false; // resultCode could change nullability.
/* 147 */
/* 148 */         project_value_15 = project_value_16 * 1000000.0D;
/* 149 */
/* 150 */       }
/* 151 */       if (!project_isNull_15) {
/* 152 */         project_isNull_14 = false; // resultCode could change nullability.
/* 153 */
/* 154 */         project_value_14 = project_value_15 + 0.5D;
/* 155 */
/* 156 */       }
/* 157 */       boolean project_isNull_13 = project_isNull_14;
/* 158 */       long project_value_13 = -1L;
/* 159 */
/* 160 */       if (!project_isNull_14) {
/* 161 */         project_value_13 = (long)(java.lang.Math.floor(project_value_14));
/* 162 */       }
/* 163 */       boolean project_isNull_12 = project_isNull_13;
/* 164 */       double project_value_12 = -1.0;
/* 165 */       if (!project_isNull_13) {
/* 166 */         project_value_12 = (double) project_value_13;
/* 167 */       }
/* 168 */
/* 169 */       if (project_isNull_12) {
/* 170 */         project_arrayData_0.setNullAt(1);
/* 171 */       } else {
/* 172 */         project_arrayData_0.setDouble(1, project_value_12);
/* 173 */       }
/* 174 */
/* 175 */       boolean project_isNull_24 = true;
/* 176 */       double project_value_24 = -1.0;
/* 177 */       boolean project_isNull_25 = true;
/* 178 */       double project_value_25 = -1.0;
/* 179 */       boolean project_isNull_27 = true;
/* 180 */       float project_value_27 = -1.0f;
/* 181 */
/* 182 */       if (!inputadapter_isNull_1) {
/* 183 */         project_isNull_27 = false; // resultCode could change nullability.
/* 184 */
/* 185 */         int project_elementAtIndex_2 = (int) 3;
/* 186 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_2)) {
/* 187 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_2, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[2] /* errCtx */));
/* 188 */         } else {
/* 189 */           if (project_elementAtIndex_2 == 0) {
/* 190 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[2] /* errCtx */));
/* 191 */           } else if (project_elementAtIndex_2 > 0) {
/* 192 */             project_elementAtIndex_2--;
/* 193 */           } else {
/* 194 */             project_elementAtIndex_2 += inputadapter_value_1.numElements();
/* 195 */           }
/* 196 */
/* 197 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_2)) {
/* 198 */             project_isNull_27 = true;
/* 199 */           } else
/* 200 */
/* 201 */           {
/* 202 */             project_value_27 = inputadapter_value_1.getFloat(project_elementAtIndex_2);
/* 203 */           }
/* 204 */         }
/* 205 */
/* 206 */       }
/* 207 */       boolean project_isNull_26 = project_isNull_27;
/* 208 */       double project_value_26 = -1.0;
/* 209 */       if (!project_isNull_27) {
/* 210 */         project_value_26 = (double) project_value_27;
/* 211 */       }
/* 212 */       if (!project_isNull_26) {
/* 213 */         project_isNull_25 = false; // resultCode could change nullability.
/* 214 */
/* 215 */         project_value_25 = project_value_26 * 1000000.0D;
/* 216 */
/* 217 */       }
/* 218 */       if (!project_isNull_25) {
/* 219 */         project_isNull_24 = false; // resultCode could change nullability.
/* 220 */
/* 221 */         project_value_24 = project_value_25 + 0.5D;
/* 222 */
/* 223 */       }
/* 224 */       boolean project_isNull_23 = project_isNull_24;
/* 225 */       long project_value_23 = -1L;
/* 226 */
/* 227 */       if (!project_isNull_24) {
/* 228 */         project_value_23 = (long)(java.lang.Math.floor(project_value_24));
/* 229 */       }
/* 230 */       boolean project_isNull_22 = project_isNull_23;
/* 231 */       double project_value_22 = -1.0;
/* 232 */       if (!project_isNull_23) {
/* 233 */         project_value_22 = (double) project_value_23;
/* 234 */       }
/* 235 */
/* 236 */       if (project_isNull_22) {
/* 237 */         project_arrayData_0.setNullAt(2);
/* 238 */       } else {
/* 239 */         project_arrayData_0.setDouble(2, project_value_22);
/* 240 */       }
/* 241 */
/* 242 */       boolean project_isNull_34 = true;
/* 243 */       double project_value_34 = -1.0;
/* 244 */       boolean project_isNull_35 = true;
/* 245 */       double project_value_35 = -1.0;
/* 246 */       boolean project_isNull_37 = true;
/* 247 */       float project_value_37 = -1.0f;
/* 248 */
/* 249 */       if (!inputadapter_isNull_1) {
/* 250 */         project_isNull_37 = false; // resultCode could change nullability.
/* 251 */
/* 252 */         int project_elementAtIndex_3 = (int) 4;
/* 253 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_3)) {
/* 254 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_3, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[3] /* errCtx */));
/* 255 */         } else {
/* 256 */           if (project_elementAtIndex_3 == 0) {
/* 257 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[3] /* errCtx */));
/* 258 */           } else if (project_elementAtIndex_3 > 0) {
/* 259 */             project_elementAtIndex_3--;
/* 260 */           } else {
/* 261 */             project_elementAtIndex_3 += inputadapter_value_1.numElements();
/* 262 */           }
/* 263 */
/* 264 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_3)) {
/* 265 */             project_isNull_37 = true;
/* 266 */           } else
/* 267 */
/* 268 */           {
/* 269 */             project_value_37 = inputadapter_value_1.getFloat(project_elementAtIndex_3);
/* 270 */           }
/* 271 */         }
/* 272 */
/* 273 */       }
/* 274 */       boolean project_isNull_36 = project_isNull_37;
/* 275 */       double project_value_36 = -1.0;
/* 276 */       if (!project_isNull_37) {
/* 277 */         project_value_36 = (double) project_value_37;
/* 278 */       }
/* 279 */       if (!project_isNull_36) {
/* 280 */         project_isNull_35 = false; // resultCode could change nullability.
/* 281 */
/* 282 */         project_value_35 = project_value_36 * 1000000.0D;
/* 283 */
/* 284 */       }
/* 285 */       if (!project_isNull_35) {
/* 286 */         project_isNull_34 = false; // resultCode could change nullability.
/* 287 */
/* 288 */         project_value_34 = project_value_35 + 0.5D;
/* 289 */
/* 290 */       }
/* 291 */       boolean project_isNull_33 = project_isNull_34;
/* 292 */       long project_value_33 = -1L;
/* 293 */
/* 294 */       if (!project_isNull_34) {
/* 295 */         project_value_33 = (long)(java.lang.Math.floor(project_value_34));
/* 296 */       }
/* 297 */       boolean project_isNull_32 = project_isNull_33;
/* 298 */       double project_value_32 = -1.0;
/* 299 */       if (!project_isNull_33) {
/* 300 */         project_value_32 = (double) project_value_33;
/* 301 */       }
/* 302 */
/* 303 */       if (project_isNull_32) {
/* 304 */         project_arrayData_0.setNullAt(3);
/* 305 */       } else {
/* 306 */         project_arrayData_0.setDouble(3, project_value_32);
/* 307 */       }
/* 308 */
/* 309 */       boolean project_isNull_44 = true;
/* 310 */       double project_value_44 = -1.0;
/* 311 */       boolean project_isNull_45 = true;
/* 312 */       double project_value_45 = -1.0;
/* 313 */       boolean project_isNull_47 = true;
/* 314 */       float project_value_47 = -1.0f;
/* 315 */
/* 316 */       if (!inputadapter_isNull_1) {
/* 317 */         project_isNull_47 = false; // resultCode could change nullability.
/* 318 */
/* 319 */         int project_elementAtIndex_4 = (int) 5;
/* 320 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_4)) {
/* 321 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_4, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[4] /* errCtx */));
/* 322 */         } else {
/* 323 */           if (project_elementAtIndex_4 == 0) {
/* 324 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[4] /* errCtx */));
/* 325 */           } else if (project_elementAtIndex_4 > 0) {
/* 326 */             project_elementAtIndex_4--;
/* 327 */           } else {
/* 328 */             project_elementAtIndex_4 += inputadapter_value_1.numElements();
/* 329 */           }
/* 330 */
/* 331 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_4)) {
/* 332 */             project_isNull_47 = true;
/* 333 */           } else
/* 334 */
/* 335 */           {
/* 336 */             project_value_47 = inputadapter_value_1.getFloat(project_elementAtIndex_4);
/* 337 */           }
/* 338 */         }
/* 339 */
/* 340 */       }
/* 341 */       boolean project_isNull_46 = project_isNull_47;
/* 342 */       double project_value_46 = -1.0;
/* 343 */       if (!project_isNull_47) {
/* 344 */         project_value_46 = (double) project_value_47;
/* 345 */       }
/* 346 */       if (!project_isNull_46) {
/* 347 */         project_isNull_45 = false; // resultCode could change nullability.
/* 348 */
/* 349 */         project_value_45 = project_value_46 * 1000000.0D;
/* 350 */
/* 351 */       }
/* 352 */       if (!project_isNull_45) {
/* 353 */         project_isNull_44 = false; // resultCode could change nullability.
/* 354 */
/* 355 */         project_value_44 = project_value_45 + 0.5D;
/* 356 */
/* 357 */       }
/* 358 */       boolean project_isNull_43 = project_isNull_44;
/* 359 */       long project_value_43 = -1L;
/* 360 */
/* 361 */       if (!project_isNull_44) {
/* 362 */         project_value_43 = (long)(java.lang.Math.floor(project_value_44));
/* 363 */       }
/* 364 */       boolean project_isNull_42 = project_isNull_43;
/* 365 */       double project_value_42 = -1.0;
/* 366 */       if (!project_isNull_43) {
/* 367 */         project_value_42 = (double) project_value_43;
/* 368 */       }
/* 369 */
/* 370 */       if (project_isNull_42) {
/* 371 */         project_arrayData_0.setNullAt(4);
/* 372 */       } else {
/* 373 */         project_arrayData_0.setDouble(4, project_value_42);
/* 374 */       }
/* 375 */
/* 376 */       boolean project_isNull_54 = true;
/* 377 */       double project_value_54 = -1.0;
/* 378 */       boolean project_isNull_55 = true;
/* 379 */       double project_value_55 = -1.0;
/* 380 */       boolean project_isNull_57 = true;
/* 381 */       float project_value_57 = -1.0f;
/* 382 */
/* 383 */       if (!inputadapter_isNull_1) {
/* 384 */         project_isNull_57 = false; // resultCode could change nullability.
/* 385 */
/* 386 */         int project_elementAtIndex_5 = (int) 6;
/* 387 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_5)) {
/* 388 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_5, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[5] /* errCtx */));
/* 389 */         } else {
/* 390 */           if (project_elementAtIndex_5 == 0) {
/* 391 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[5] /* errCtx */));
/* 392 */           } else if (project_elementAtIndex_5 > 0) {
/* 393 */             project_elementAtIndex_5--;
/* 394 */           } else {
/* 395 */             project_elementAtIndex_5 += inputadapter_value_1.numElements();
/* 396 */           }
/* 397 */
/* 398 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_5)) {
/* 399 */             project_isNull_57 = true;
/* 400 */           } else
/* 401 */
/* 402 */           {
/* 403 */             project_value_57 = inputadapter_value_1.getFloat(project_elementAtIndex_5);
/* 404 */           }
/* 405 */         }
/* 406 */
/* 407 */       }
/* 408 */       boolean project_isNull_56 = project_isNull_57;
/* 409 */       double project_value_56 = -1.0;
/* 410 */       if (!project_isNull_57) {
/* 411 */         project_value_56 = (double) project_value_57;
/* 412 */       }
/* 413 */       if (!project_isNull_56) {
/* 414 */         project_isNull_55 = false; // resultCode could change nullability.
/* 415 */
/* 416 */         project_value_55 = project_value_56 * 1000000.0D;
/* 417 */
/* 418 */       }
/* 419 */       if (!project_isNull_55) {
/* 420 */         project_isNull_54 = false; // resultCode could change nullability.
/* 421 */
/* 422 */         project_value_54 = project_value_55 + 0.5D;
/* 423 */
/* 424 */       }
/* 425 */       boolean project_isNull_53 = project_isNull_54;
/* 426 */       long project_value_53 = -1L;
/* 427 */
/* 428 */       if (!project_isNull_54) {
/* 429 */         project_value_53 = (long)(java.lang.Math.floor(project_value_54));
/* 430 */       }
/* 431 */       boolean project_isNull_52 = project_isNull_53;
/* 432 */       double project_value_52 = -1.0;
/* 433 */       if (!project_isNull_53) {
/* 434 */         project_value_52 = (double) project_value_53;
/* 435 */       }
/* 436 */
/* 437 */       if (project_isNull_52) {
/* 438 */         project_arrayData_0.setNullAt(5);
/* 439 */       } else {
/* 440 */         project_arrayData_0.setDouble(5, project_value_52);
/* 441 */       }
/* 442 */
/* 443 */       boolean project_isNull_64 = true;
/* 444 */       double project_value_64 = -1.0;
/* 445 */       boolean project_isNull_65 = true;
/* 446 */       double project_value_65 = -1.0;
/* 447 */       boolean project_isNull_67 = true;
/* 448 */       float project_value_67 = -1.0f;
/* 449 */
/* 450 */       if (!inputadapter_isNull_1) {
/* 451 */         project_isNull_67 = false; // resultCode could change nullability.
/* 452 */
/* 453 */         int project_elementAtIndex_6 = (int) 7;
/* 454 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_6)) {
/* 455 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_6, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[6] /* errCtx */));
/* 456 */         } else {
/* 457 */           if (project_elementAtIndex_6 == 0) {
/* 458 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[6] /* errCtx */));
/* 459 */           } else if (project_elementAtIndex_6 > 0) {
/* 460 */             project_elementAtIndex_6--;
/* 461 */           } else {
/* 462 */             project_elementAtIndex_6 += inputadapter_value_1.numElements();
/* 463 */           }
/* 464 */
/* 465 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_6)) {
/* 466 */             project_isNull_67 = true;
/* 467 */           } else
/* 468 */
/* 469 */           {
/* 470 */             project_value_67 = inputadapter_value_1.getFloat(project_elementAtIndex_6);
/* 471 */           }
/* 472 */         }
/* 473 */
/* 474 */       }
/* 475 */       boolean project_isNull_66 = project_isNull_67;
/* 476 */       double project_value_66 = -1.0;
/* 477 */       if (!project_isNull_67) {
/* 478 */         project_value_66 = (double) project_value_67;
/* 479 */       }
/* 480 */       if (!project_isNull_66) {
/* 481 */         project_isNull_65 = false; // resultCode could change nullability.
/* 482 */
/* 483 */         project_value_65 = project_value_66 * 1000000.0D;
/* 484 */
/* 485 */       }
/* 486 */       if (!project_isNull_65) {
/* 487 */         project_isNull_64 = false; // resultCode could change nullability.
/* 488 */
/* 489 */         project_value_64 = project_value_65 + 0.5D;
/* 490 */
/* 491 */       }
/* 492 */       boolean project_isNull_63 = project_isNull_64;
/* 493 */       long project_value_63 = -1L;
/* 494 */
/* 495 */       if (!project_isNull_64) {
/* 496 */         project_value_63 = (long)(java.lang.Math.floor(project_value_64));
/* 497 */       }
/* 498 */       boolean project_isNull_62 = project_isNull_63;
/* 499 */       double project_value_62 = -1.0;
/* 500 */       if (!project_isNull_63) {
/* 501 */         project_value_62 = (double) project_value_63;
/* 502 */       }
/* 503 */
/* 504 */       if (project_isNull_62) {
/* 505 */         project_arrayData_0.setNullAt(6);
/* 506 */       } else {
/* 507 */         project_arrayData_0.setDouble(6, project_value_62);
/* 508 */       }
/* 509 */
/* 510 */       boolean project_isNull_74 = true;
/* 511 */       double project_value_74 = -1.0;
/* 512 */       boolean project_isNull_75 = true;
/* 513 */       double project_value_75 = -1.0;
/* 514 */       boolean project_isNull_77 = true;
/* 515 */       float project_value_77 = -1.0f;
/* 516 */
/* 517 */       if (!inputadapter_isNull_1) {
/* 518 */         project_isNull_77 = false; // resultCode could change nullability.
/* 519 */
/* 520 */         int project_elementAtIndex_7 = (int) 8;
/* 521 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_7)) {
/* 522 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_7, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[7] /* errCtx */));
/* 523 */         } else {
/* 524 */           if (project_elementAtIndex_7 == 0) {
/* 525 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[7] /* errCtx */));
/* 526 */           } else if (project_elementAtIndex_7 > 0) {
/* 527 */             project_elementAtIndex_7--;
/* 528 */           } else {
/* 529 */             project_elementAtIndex_7 += inputadapter_value_1.numElements();
/* 530 */           }
/* 531 */
/* 532 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_7)) {
/* 533 */             project_isNull_77 = true;
/* 534 */           } else
/* 535 */
/* 536 */           {
/* 537 */             project_value_77 = inputadapter_value_1.getFloat(project_elementAtIndex_7);
/* 538 */           }
/* 539 */         }
/* 540 */
/* 541 */       }
/* 542 */       boolean project_isNull_76 = project_isNull_77;
/* 543 */       double project_value_76 = -1.0;
/* 544 */       if (!project_isNull_77) {
/* 545 */         project_value_76 = (double) project_value_77;
/* 546 */       }
/* 547 */       if (!project_isNull_76) {
/* 548 */         project_isNull_75 = false; // resultCode could change nullability.
/* 549 */
/* 550 */         project_value_75 = project_value_76 * 1000000.0D;
/* 551 */
/* 552 */       }
/* 553 */       if (!project_isNull_75) {
/* 554 */         project_isNull_74 = false; // resultCode could change nullability.
/* 555 */
/* 556 */         project_value_74 = project_value_75 + 0.5D;
/* 557 */
/* 558 */       }
/* 559 */       boolean project_isNull_73 = project_isNull_74;
/* 560 */       long project_value_73 = -1L;
/* 561 */
/* 562 */       if (!project_isNull_74) {
/* 563 */         project_value_73 = (long)(java.lang.Math.floor(project_value_74));
/* 564 */       }
/* 565 */       boolean project_isNull_72 = project_isNull_73;
/* 566 */       double project_value_72 = -1.0;
/* 567 */       if (!project_isNull_73) {
/* 568 */         project_value_72 = (double) project_value_73;
/* 569 */       }
/* 570 */
/* 571 */       if (project_isNull_72) {
/* 572 */         project_arrayData_0.setNullAt(7);
/* 573 */       } else {
/* 574 */         project_arrayData_0.setDouble(7, project_value_72);
/* 575 */       }
/* 576 */
/* 577 */       boolean project_isNull_84 = true;
/* 578 */       double project_value_84 = -1.0;
/* 579 */       boolean project_isNull_85 = true;
/* 580 */       double project_value_85 = -1.0;
/* 581 */       boolean project_isNull_87 = true;
/* 582 */       float project_value_87 = -1.0f;
/* 583 */
/* 584 */       if (!inputadapter_isNull_1) {
/* 585 */         project_isNull_87 = false; // resultCode could change nullability.
/* 586 */
/* 587 */         int project_elementAtIndex_8 = (int) 9;
/* 588 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_8)) {
/* 589 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_8, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[8] /* errCtx */));
/* 590 */         } else {
/* 591 */           if (project_elementAtIndex_8 == 0) {
/* 592 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[8] /* errCtx */));
/* 593 */           } else if (project_elementAtIndex_8 > 0) {
/* 594 */             project_elementAtIndex_8--;
/* 595 */           } else {
/* 596 */             project_elementAtIndex_8 += inputadapter_value_1.numElements();
/* 597 */           }
/* 598 */
/* 599 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_8)) {
/* 600 */             project_isNull_87 = true;
/* 601 */           } else
/* 602 */
/* 603 */           {
/* 604 */             project_value_87 = inputadapter_value_1.getFloat(project_elementAtIndex_8);
/* 605 */           }
/* 606 */         }
/* 607 */
/* 608 */       }
/* 609 */       boolean project_isNull_86 = project_isNull_87;
/* 610 */       double project_value_86 = -1.0;
/* 611 */       if (!project_isNull_87) {
/* 612 */         project_value_86 = (double) project_value_87;
/* 613 */       }
/* 614 */       if (!project_isNull_86) {
/* 615 */         project_isNull_85 = false; // resultCode could change nullability.
/* 616 */
/* 617 */         project_value_85 = project_value_86 * 1000000.0D;
/* 618 */
/* 619 */       }
/* 620 */       if (!project_isNull_85) {
/* 621 */         project_isNull_84 = false; // resultCode could change nullability.
/* 622 */
/* 623 */         project_value_84 = project_value_85 + 0.5D;
/* 624 */
/* 625 */       }
/* 626 */       boolean project_isNull_83 = project_isNull_84;
/* 627 */       long project_value_83 = -1L;
/* 628 */
/* 629 */       if (!project_isNull_84) {
/* 630 */         project_value_83 = (long)(java.lang.Math.floor(project_value_84));
/* 631 */       }
/* 632 */       boolean project_isNull_82 = project_isNull_83;
/* 633 */       double project_value_82 = -1.0;
/* 634 */       if (!project_isNull_83) {
/* 635 */         project_value_82 = (double) project_value_83;
/* 636 */       }
/* 637 */
/* 638 */       if (project_isNull_82) {
/* 639 */         project_arrayData_0.setNullAt(8);
/* 640 */       } else {
/* 641 */         project_arrayData_0.setDouble(8, project_value_82);
/* 642 */       }
/* 643 */
/* 644 */       boolean project_isNull_94 = true;
/* 645 */       double project_value_94 = -1.0;
/* 646 */       boolean project_isNull_95 = true;
/* 647 */       double project_value_95 = -1.0;
/* 648 */       boolean project_isNull_97 = true;
/* 649 */       float project_value_97 = -1.0f;
/* 650 */
/* 651 */       if (!inputadapter_isNull_1) {
/* 652 */         project_isNull_97 = false; // resultCode could change nullability.
/* 653 */
/* 654 */         int project_elementAtIndex_9 = (int) 10;
/* 655 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_9)) {
/* 656 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_9, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[9] /* errCtx */));
/* 657 */         } else {
/* 658 */           if (project_elementAtIndex_9 == 0) {
/* 659 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[9] /* errCtx */));
/* 660 */           } else if (project_elementAtIndex_9 > 0) {
/* 661 */             project_elementAtIndex_9--;
/* 662 */           } else {
/* 663 */             project_elementAtIndex_9 += inputadapter_value_1.numElements();
/* 664 */           }
/* 665 */
/* 666 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_9)) {
/* 667 */             project_isNull_97 = true;
/* 668 */           } else
/* 669 */
/* 670 */           {
/* 671 */             project_value_97 = inputadapter_value_1.getFloat(project_elementAtIndex_9);
/* 672 */           }
/* 673 */         }
/* 674 */
/* 675 */       }
/* 676 */       boolean project_isNull_96 = project_isNull_97;
/* 677 */       double project_value_96 = -1.0;
/* 678 */       if (!project_isNull_97) {
/* 679 */         project_value_96 = (double) project_value_97;
/* 680 */       }
/* 681 */       if (!project_isNull_96) {
/* 682 */         project_isNull_95 = false; // resultCode could change nullability.
/* 683 */
/* 684 */         project_value_95 = project_value_96 * 1000000.0D;
/* 685 */
/* 686 */       }
/* 687 */       if (!project_isNull_95) {
/* 688 */         project_isNull_94 = false; // resultCode could change nullability.
/* 689 */
/* 690 */         project_value_94 = project_value_95 + 0.5D;
/* 691 */
/* 692 */       }
/* 693 */       boolean project_isNull_93 = project_isNull_94;
/* 694 */       long project_value_93 = -1L;
/* 695 */
/* 696 */       if (!project_isNull_94) {
/* 697 */         project_value_93 = (long)(java.lang.Math.floor(project_value_94));
/* 698 */       }
/* 699 */       boolean project_isNull_92 = project_isNull_93;
/* 700 */       double project_value_92 = -1.0;
/* 701 */       if (!project_isNull_93) {
/* 702 */         project_value_92 = (double) project_value_93;
/* 703 */       }
/* 704 */
/* 705 */       if (project_isNull_92) {
/* 706 */         project_arrayData_0.setNullAt(9);
/* 707 */       } else {
/* 708 */         project_arrayData_0.setDouble(9, project_value_92);
/* 709 */       }
/* 710 */
/* 711 */       boolean project_isNull_104 = true;
/* 712 */       double project_value_104 = -1.0;
/* 713 */       boolean project_isNull_105 = true;
/* 714 */       double project_value_105 = -1.0;
/* 715 */       boolean project_isNull_107 = true;
/* 716 */       float project_value_107 = -1.0f;
/* 717 */
/* 718 */       if (!inputadapter_isNull_1) {
/* 719 */         project_isNull_107 = false; // resultCode could change nullability.
/* 720 */
/* 721 */         int project_elementAtIndex_10 = (int) 11;
/* 722 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_10)) {
/* 723 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_10, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[10] /* errCtx */));
/* 724 */         } else {
/* 725 */           if (project_elementAtIndex_10 == 0) {
/* 726 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[10] /* errCtx */));
/* 727 */           } else if (project_elementAtIndex_10 > 0) {
/* 728 */             project_elementAtIndex_10--;
/* 729 */           } else {
/* 730 */             project_elementAtIndex_10 += inputadapter_value_1.numElements();
/* 731 */           }
/* 732 */
/* 733 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_10)) {
/* 734 */             project_isNull_107 = true;
/* 735 */           } else
/* 736 */
/* 737 */           {
/* 738 */             project_value_107 = inputadapter_value_1.getFloat(project_elementAtIndex_10);
/* 739 */           }
/* 740 */         }
/* 741 */
/* 742 */       }
/* 743 */       boolean project_isNull_106 = project_isNull_107;
/* 744 */       double project_value_106 = -1.0;
/* 745 */       if (!project_isNull_107) {
/* 746 */         project_value_106 = (double) project_value_107;
/* 747 */       }
/* 748 */       if (!project_isNull_106) {
/* 749 */         project_isNull_105 = false; // resultCode could change nullability.
/* 750 */
/* 751 */         project_value_105 = project_value_106 * 1000000.0D;
/* 752 */
/* 753 */       }
/* 754 */       if (!project_isNull_105) {
/* 755 */         project_isNull_104 = false; // resultCode could change nullability.
/* 756 */
/* 757 */         project_value_104 = project_value_105 + 0.5D;
/* 758 */
/* 759 */       }
/* 760 */       boolean project_isNull_103 = project_isNull_104;
/* 761 */       long project_value_103 = -1L;
/* 762 */
/* 763 */       if (!project_isNull_104) {
/* 764 */         project_value_103 = (long)(java.lang.Math.floor(project_value_104));
/* 765 */       }
/* 766 */       boolean project_isNull_102 = project_isNull_103;
/* 767 */       double project_value_102 = -1.0;
/* 768 */       if (!project_isNull_103) {
/* 769 */         project_value_102 = (double) project_value_103;
/* 770 */       }
/* 771 */
/* 772 */       if (project_isNull_102) {
/* 773 */         project_arrayData_0.setNullAt(10);
/* 774 */       } else {
/* 775 */         project_arrayData_0.setDouble(10, project_value_102);
/* 776 */       }
/* 777 */
/* 778 */       boolean project_isNull_114 = true;
/* 779 */       double project_value_114 = -1.0;
/* 780 */       boolean project_isNull_115 = true;
/* 781 */       double project_value_115 = -1.0;
/* 782 */       boolean project_isNull_117 = true;
/* 783 */       float project_value_117 = -1.0f;
/* 784 */
/* 785 */       if (!inputadapter_isNull_1) {
/* 786 */         project_isNull_117 = false; // resultCode could change nullability.
/* 787 */
/* 788 */         int project_elementAtIndex_11 = (int) 12;
/* 789 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_11)) {
/* 790 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_11, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[11] /* errCtx */));
/* 791 */         } else {
/* 792 */           if (project_elementAtIndex_11 == 0) {
/* 793 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[11] /* errCtx */));
/* 794 */           } else if (project_elementAtIndex_11 > 0) {
/* 795 */             project_elementAtIndex_11--;
/* 796 */           } else {
/* 797 */             project_elementAtIndex_11 += inputadapter_value_1.numElements();
/* 798 */           }
/* 799 */
/* 800 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_11)) {
/* 801 */             project_isNull_117 = true;
/* 802 */           } else
/* 803 */
/* 804 */           {
/* 805 */             project_value_117 = inputadapter_value_1.getFloat(project_elementAtIndex_11);
/* 806 */           }
/* 807 */         }
/* 808 */
/* 809 */       }
/* 810 */       boolean project_isNull_116 = project_isNull_117;
/* 811 */       double project_value_116 = -1.0;
/* 812 */       if (!project_isNull_117) {
/* 813 */         project_value_116 = (double) project_value_117;
/* 814 */       }
/* 815 */       if (!project_isNull_116) {
/* 816 */         project_isNull_115 = false; // resultCode could change nullability.
/* 817 */
/* 818 */         project_value_115 = project_value_116 * 1000000.0D;
/* 819 */
/* 820 */       }
/* 821 */       if (!project_isNull_115) {
/* 822 */         project_isNull_114 = false; // resultCode could change nullability.
/* 823 */
/* 824 */         project_value_114 = project_value_115 + 0.5D;
/* 825 */
/* 826 */       }
/* 827 */       boolean project_isNull_113 = project_isNull_114;
/* 828 */       long project_value_113 = -1L;
/* 829 */
/* 830 */       if (!project_isNull_114) {
/* 831 */         project_value_113 = (long)(java.lang.Math.floor(project_value_114));
/* 832 */       }
/* 833 */       boolean project_isNull_112 = project_isNull_113;
/* 834 */       double project_value_112 = -1.0;
/* 835 */       if (!project_isNull_113) {
/* 836 */         project_value_112 = (double) project_value_113;
/* 837 */       }
/* 838 */
/* 839 */       if (project_isNull_112) {
/* 840 */         project_arrayData_0.setNullAt(11);
/* 841 */       } else {
/* 842 */         project_arrayData_0.setDouble(11, project_value_112);
/* 843 */       }
/* 844 */
/* 845 */       boolean project_isNull_124 = true;
/* 846 */       double project_value_124 = -1.0;
/* 847 */       boolean project_isNull_125 = true;
/* 848 */       double project_value_125 = -1.0;
/* 849 */       boolean project_isNull_127 = true;
/* 850 */       float project_value_127 = -1.0f;
/* 851 */
/* 852 */       if (!inputadapter_isNull_1) {
/* 853 */         project_isNull_127 = false; // resultCode could change nullability.
/* 854 */
/* 855 */         int project_elementAtIndex_12 = (int) 13;
/* 856 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_12)) {
/* 857 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_12, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[12] /* errCtx */));
/* 858 */         } else {
/* 859 */           if (project_elementAtIndex_12 == 0) {
/* 860 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[12] /* errCtx */));
/* 861 */           } else if (project_elementAtIndex_12 > 0) {
/* 862 */             project_elementAtIndex_12--;
/* 863 */           } else {
/* 864 */             project_elementAtIndex_12 += inputadapter_value_1.numElements();
/* 865 */           }
/* 866 */
/* 867 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_12)) {
/* 868 */             project_isNull_127 = true;
/* 869 */           } else
/* 870 */
/* 871 */           {
/* 872 */             project_value_127 = inputadapter_value_1.getFloat(project_elementAtIndex_12);
/* 873 */           }
/* 874 */         }
/* 875 */
/* 876 */       }
/* 877 */       boolean project_isNull_126 = project_isNull_127;
/* 878 */       double project_value_126 = -1.0;
/* 879 */       if (!project_isNull_127) {
/* 880 */         project_value_126 = (double) project_value_127;
/* 881 */       }
/* 882 */       if (!project_isNull_126) {
/* 883 */         project_isNull_125 = false; // resultCode could change nullability.
/* 884 */
/* 885 */         project_value_125 = project_value_126 * 1000000.0D;
/* 886 */
/* 887 */       }
/* 888 */       if (!project_isNull_125) {
/* 889 */         project_isNull_124 = false; // resultCode could change nullability.
/* 890 */
/* 891 */         project_value_124 = project_value_125 + 0.5D;
/* 892 */
/* 893 */       }
/* 894 */       boolean project_isNull_123 = project_isNull_124;
/* 895 */       long project_value_123 = -1L;
/* 896 */
/* 897 */       if (!project_isNull_124) {
/* 898 */         project_value_123 = (long)(java.lang.Math.floor(project_value_124));
/* 899 */       }
/* 900 */       boolean project_isNull_122 = project_isNull_123;
/* 901 */       double project_value_122 = -1.0;
/* 902 */       if (!project_isNull_123) {
/* 903 */         project_value_122 = (double) project_value_123;
/* 904 */       }
/* 905 */
/* 906 */       if (project_isNull_122) {
/* 907 */         project_arrayData_0.setNullAt(12);
/* 908 */       } else {
/* 909 */         project_arrayData_0.setDouble(12, project_value_122);
/* 910 */       }
/* 911 */
/* 912 */       boolean project_isNull_134 = true;
/* 913 */       double project_value_134 = -1.0;
/* 914 */       boolean project_isNull_135 = true;
/* 915 */       double project_value_135 = -1.0;
/* 916 */       boolean project_isNull_137 = true;
/* 917 */       float project_value_137 = -1.0f;
/* 918 */
/* 919 */       if (!inputadapter_isNull_1) {
/* 920 */         project_isNull_137 = false; // resultCode could change nullability.
/* 921 */
/* 922 */         int project_elementAtIndex_13 = (int) 14;
/* 923 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_13)) {
/* 924 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_13, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[13] /* errCtx */));
/* 925 */         } else {
/* 926 */           if (project_elementAtIndex_13 == 0) {
/* 927 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[13] /* errCtx */));
/* 928 */           } else if (project_elementAtIndex_13 > 0) {
/* 929 */             project_elementAtIndex_13--;
/* 930 */           } else {
/* 931 */             project_elementAtIndex_13 += inputadapter_value_1.numElements();
/* 932 */           }
/* 933 */
/* 934 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_13)) {
/* 935 */             project_isNull_137 = true;
/* 936 */           } else
/* 937 */
/* 938 */           {
/* 939 */             project_value_137 = inputadapter_value_1.getFloat(project_elementAtIndex_13);
/* 940 */           }
/* 941 */         }
/* 942 */
/* 943 */       }
/* 944 */       boolean project_isNull_136 = project_isNull_137;
/* 945 */       double project_value_136 = -1.0;
/* 946 */       if (!project_isNull_137) {
/* 947 */         project_value_136 = (double) project_value_137;
/* 948 */       }
/* 949 */       if (!project_isNull_136) {
/* 950 */         project_isNull_135 = false; // resultCode could change nullability.
/* 951 */
/* 952 */         project_value_135 = project_value_136 * 1000000.0D;
/* 953 */
/* 954 */       }
/* 955 */       if (!project_isNull_135) {
/* 956 */         project_isNull_134 = false; // resultCode could change nullability.
/* 957 */
/* 958 */         project_value_134 = project_value_135 + 0.5D;
/* 959 */
/* 960 */       }
/* 961 */       boolean project_isNull_133 = project_isNull_134;
/* 962 */       long project_value_133 = -1L;
/* 963 */
/* 964 */       if (!project_isNull_134) {
/* 965 */         project_value_133 = (long)(java.lang.Math.floor(project_value_134));
/* 966 */       }
/* 967 */       boolean project_isNull_132 = project_isNull_133;
/* 968 */       double project_value_132 = -1.0;
/* 969 */       if (!project_isNull_133) {
/* 970 */         project_value_132 = (double) project_value_133;
/* 971 */       }
/* 972 */
/* 973 */       if (project_isNull_132) {
/* 974 */         project_arrayData_0.setNullAt(13);
/* 975 */       } else {
/* 976 */         project_arrayData_0.setDouble(13, project_value_132);
/* 977 */       }
/* 978 */
/* 979 */       boolean project_isNull_144 = true;
/* 980 */       double project_value_144 = -1.0;
/* 981 */       boolean project_isNull_145 = true;
/* 982 */       double project_value_145 = -1.0;
/* 983 */       boolean project_isNull_147 = true;
/* 984 */       float project_value_147 = -1.0f;
/* 985 */
/* 986 */       if (!inputadapter_isNull_1) {
/* 987 */         project_isNull_147 = false; // resultCode could change nullability.
/* 988 */
/* 989 */         int project_elementAtIndex_14 = (int) 15;
/* 990 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_14)) {
/* 991 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_14, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[14] /* errCtx */));
/* 992 */         } else {
/* 993 */           if (project_elementAtIndex_14 == 0) {
/* 994 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[14] /* errCtx */));
/* 995 */           } else if (project_elementAtIndex_14 > 0) {
/* 996 */             project_elementAtIndex_14--;
/* 997 */           } else {
/* 998 */             project_elementAtIndex_14 += inputadapter_value_1.numElements();
/* 999 */           }
/* 1000 */
/* 1001 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_14)) {
/* 1002 */             project_isNull_147 = true;
/* 1003 */           } else
/* 1004 */
/* 1005 */           {
/* 1006 */             project_value_147 = inputadapter_value_1.getFloat(project_elementAtIndex_14);
/* 1007 */           }
/* 1008 */         }
/* 1009 */
/* 1010 */       }
/* 1011 */       boolean project_isNull_146 = project_isNull_147;
/* 1012 */       double project_value_146 = -1.0;
/* 1013 */       if (!project_isNull_147) {
/* 1014 */         project_value_146 = (double) project_value_147;
/* 1015 */       }
/* 1016 */       if (!project_isNull_146) {
/* 1017 */         project_isNull_145 = false; // resultCode could change nullability.
/* 1018 */
/* 1019 */         project_value_145 = project_value_146 * 1000000.0D;
/* 1020 */
/* 1021 */       }
/* 1022 */       if (!project_isNull_145) {
/* 1023 */         project_isNull_144 = false; // resultCode could change nullability.
/* 1024 */
/* 1025 */         project_value_144 = project_value_145 + 0.5D;
/* 1026 */
/* 1027 */       }
/* 1028 */       boolean project_isNull_143 = project_isNull_144;
/* 1029 */       long project_value_143 = -1L;
/* 1030 */
/* 1031 */       if (!project_isNull_144) {
/* 1032 */         project_value_143 = (long)(java.lang.Math.floor(project_value_144));
/* 1033 */       }
/* 1034 */       boolean project_isNull_142 = project_isNull_143;
/* 1035 */       double project_value_142 = -1.0;
/* 1036 */       if (!project_isNull_143) {
/* 1037 */         project_value_142 = (double) project_value_143;
/* 1038 */       }
/* 1039 */
/* 1040 */       if (project_isNull_142) {
/* 1041 */         project_arrayData_0.setNullAt(14);
/* 1042 */       } else {
/* 1043 */         project_arrayData_0.setDouble(14, project_value_142);
/* 1044 */       }
/* 1045 */
/* 1046 */       boolean project_isNull_154 = true;
/* 1047 */       double project_value_154 = -1.0;
/* 1048 */       boolean project_isNull_155 = true;
/* 1049 */       double project_value_155 = -1.0;
/* 1050 */       boolean project_isNull_157 = true;
/* 1051 */       float project_value_157 = -1.0f;
/* 1052 */
/* 1053 */       if (!inputadapter_isNull_1) {
/* 1054 */         project_isNull_157 = false; // resultCode could change nullability.
/* 1055 */
/* 1056 */         int project_elementAtIndex_15 = (int) 16;
/* 1057 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_15)) {
/* 1058 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_15, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[15] /* errCtx */));
/* 1059 */         } else {
/* 1060 */           if (project_elementAtIndex_15 == 0) {
/* 1061 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[15] /* errCtx */));
/* 1062 */           } else if (project_elementAtIndex_15 > 0) {
/* 1063 */             project_elementAtIndex_15--;
/* 1064 */           } else {
/* 1065 */             project_elementAtIndex_15 += inputadapter_value_1.numElements();
/* 1066 */           }
/* 1067 */
/* 1068 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_15)) {
/* 1069 */             project_isNull_157 = true;
/* 1070 */           } else
/* 1071 */
/* 1072 */           {
/* 1073 */             project_value_157 = inputadapter_value_1.getFloat(project_elementAtIndex_15);
/* 1074 */           }
/* 1075 */         }
/* 1076 */
/* 1077 */       }
/* 1078 */       boolean project_isNull_156 = project_isNull_157;
/* 1079 */       double project_value_156 = -1.0;
/* 1080 */       if (!project_isNull_157) {
/* 1081 */         project_value_156 = (double) project_value_157;
/* 1082 */       }
/* 1083 */       if (!project_isNull_156) {
/* 1084 */         project_isNull_155 = false; // resultCode could change nullability.
/* 1085 */
/* 1086 */         project_value_155 = project_value_156 * 1000000.0D;
/* 1087 */
/* 1088 */       }
/* 1089 */       if (!project_isNull_155) {
/* 1090 */         project_isNull_154 = false; // resultCode could change nullability.
/* 1091 */
/* 1092 */         project_value_154 = project_value_155 + 0.5D;
/* 1093 */
/* 1094 */       }
/* 1095 */       boolean project_isNull_153 = project_isNull_154;
/* 1096 */       long project_value_153 = -1L;
/* 1097 */
/* 1098 */       if (!project_isNull_154) {
/* 1099 */         project_value_153 = (long)(java.lang.Math.floor(project_value_154));
/* 1100 */       }
/* 1101 */       boolean project_isNull_152 = project_isNull_153;
/* 1102 */       double project_value_152 = -1.0;
/* 1103 */       if (!project_isNull_153) {
/* 1104 */         project_value_152 = (double) project_value_153;
/* 1105 */       }
/* 1106 */
/* 1107 */       if (project_isNull_152) {
/* 1108 */         project_arrayData_0.setNullAt(15);
/* 1109 */       } else {
/* 1110 */         project_arrayData_0.setDouble(15, project_value_152);
/* 1111 */       }
/* 1112 */
/* 1113 */       boolean project_isNull_164 = true;
/* 1114 */       double project_value_164 = -1.0;
/* 1115 */       boolean project_isNull_165 = true;
/* 1116 */       double project_value_165 = -1.0;
/* 1117 */       boolean project_isNull_167 = true;
/* 1118 */       float project_value_167 = -1.0f;
/* 1119 */
/* 1120 */       if (!inputadapter_isNull_1) {
/* 1121 */         project_isNull_167 = false; // resultCode could change nullability.
/* 1122 */
/* 1123 */         int project_elementAtIndex_16 = (int) 17;
/* 1124 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_16)) {
/* 1125 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_16, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[16] /* errCtx */));
/* 1126 */         } else {
/* 1127 */           if (project_elementAtIndex_16 == 0) {
/* 1128 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[16] /* errCtx */));
/* 1129 */           } else if (project_elementAtIndex_16 > 0) {
/* 1130 */             project_elementAtIndex_16--;
/* 1131 */           } else {
/* 1132 */             project_elementAtIndex_16 += inputadapter_value_1.numElements();
/* 1133 */           }
/* 1134 */
/* 1135 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_16)) {
/* 1136 */             project_isNull_167 = true;
/* 1137 */           } else
/* 1138 */
/* 1139 */           {
/* 1140 */             project_value_167 = inputadapter_value_1.getFloat(project_elementAtIndex_16);
/* 1141 */           }
/* 1142 */         }
/* 1143 */
/* 1144 */       }
/* 1145 */       boolean project_isNull_166 = project_isNull_167;
/* 1146 */       double project_value_166 = -1.0;
/* 1147 */       if (!project_isNull_167) {
/* 1148 */         project_value_166 = (double) project_value_167;
/* 1149 */       }
/* 1150 */       if (!project_isNull_166) {
/* 1151 */         project_isNull_165 = false; // resultCode could change nullability.
/* 1152 */
/* 1153 */         project_value_165 = project_value_166 * 1000000.0D;
/* 1154 */
/* 1155 */       }
/* 1156 */       if (!project_isNull_165) {
/* 1157 */         project_isNull_164 = false; // resultCode could change nullability.
/* 1158 */
/* 1159 */         project_value_164 = project_value_165 + 0.5D;
/* 1160 */
/* 1161 */       }
/* 1162 */       boolean project_isNull_163 = project_isNull_164;
/* 1163 */       long project_value_163 = -1L;
/* 1164 */
/* 1165 */       if (!project_isNull_164) {
/* 1166 */         project_value_163 = (long)(java.lang.Math.floor(project_value_164));
/* 1167 */       }
/* 1168 */       boolean project_isNull_162 = project_isNull_163;
/* 1169 */       double project_value_162 = -1.0;
/* 1170 */       if (!project_isNull_163) {
/* 1171 */         project_value_162 = (double) project_value_163;
/* 1172 */       }
/* 1173 */
/* 1174 */       if (project_isNull_162) {
/* 1175 */         project_arrayData_0.setNullAt(16);
/* 1176 */       } else {
/* 1177 */         project_arrayData_0.setDouble(16, project_value_162);
/* 1178 */       }
/* 1179 */
/* 1180 */       boolean project_isNull_174 = true;
/* 1181 */       double project_value_174 = -1.0;
/* 1182 */       boolean project_isNull_175 = true;
/* 1183 */       double project_value_175 = -1.0;
/* 1184 */       boolean project_isNull_177 = true;
/* 1185 */       float project_value_177 = -1.0f;
/* 1186 */
/* 1187 */       if (!inputadapter_isNull_1) {
/* 1188 */         project_isNull_177 = false; // resultCode could change nullability.
/* 1189 */
/* 1190 */         int project_elementAtIndex_17 = (int) 18;
/* 1191 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_17)) {
/* 1192 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_17, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[17] /* errCtx */));
/* 1193 */         } else {
/* 1194 */           if (project_elementAtIndex_17 == 0) {
/* 1195 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[17] /* errCtx */));
/* 1196 */           } else if (project_elementAtIndex_17 > 0) {
/* 1197 */             project_elementAtIndex_17--;
/* 1198 */           } else {
/* 1199 */             project_elementAtIndex_17 += inputadapter_value_1.numElements();
/* 1200 */           }
/* 1201 */
/* 1202 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_17)) {
/* 1203 */             project_isNull_177 = true;
/* 1204 */           } else
/* 1205 */
/* 1206 */           {
/* 1207 */             project_value_177 = inputadapter_value_1.getFloat(project_elementAtIndex_17);
/* 1208 */           }
/* 1209 */         }
/* 1210 */
/* 1211 */       }
/* 1212 */       boolean project_isNull_176 = project_isNull_177;
/* 1213 */       double project_value_176 = -1.0;
/* 1214 */       if (!project_isNull_177) {
/* 1215 */         project_value_176 = (double) project_value_177;
/* 1216 */       }
/* 1217 */       if (!project_isNull_176) {
/* 1218 */         project_isNull_175 = false; // resultCode could change nullability.
/* 1219 */
/* 1220 */         project_value_175 = project_value_176 * 1000000.0D;
/* 1221 */
/* 1222 */       }
/* 1223 */       if (!project_isNull_175) {
/* 1224 */         project_isNull_174 = false; // resultCode could change nullability.
/* 1225 */
/* 1226 */         project_value_174 = project_value_175 + 0.5D;
/* 1227 */
/* 1228 */       }
/* 1229 */       boolean project_isNull_173 = project_isNull_174;
/* 1230 */       long project_value_173 = -1L;
/* 1231 */
/* 1232 */       if (!project_isNull_174) {
/* 1233 */         project_value_173 = (long)(java.lang.Math.floor(project_value_174));
/* 1234 */       }
/* 1235 */       boolean project_isNull_172 = project_isNull_173;
/* 1236 */       double project_value_172 = -1.0;
/* 1237 */       if (!project_isNull_173) {
/* 1238 */         project_value_172 = (double) project_value_173;
/* 1239 */       }
/* 1240 */
/* 1241 */       if (project_isNull_172) {
/* 1242 */         project_arrayData_0.setNullAt(17);
/* 1243 */       } else {
/* 1244 */         project_arrayData_0.setDouble(17, project_value_172);
/* 1245 */       }
/* 1246 */
/* 1247 */       boolean project_isNull_184 = true;
/* 1248 */       double project_value_184 = -1.0;
/* 1249 */       boolean project_isNull_185 = true;
/* 1250 */       double project_value_185 = -1.0;
/* 1251 */       boolean project_isNull_187 = true;
/* 1252 */       float project_value_187 = -1.0f;
/* 1253 */
/* 1254 */       if (!inputadapter_isNull_1) {
/* 1255 */         project_isNull_187 = false; // resultCode could change nullability.
/* 1256 */
/* 1257 */         int project_elementAtIndex_18 = (int) 19;
/* 1258 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_18)) {
/* 1259 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_18, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[18] /* errCtx */));
/* 1260 */         } else {
/* 1261 */           if (project_elementAtIndex_18 == 0) {
/* 1262 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[18] /* errCtx */));
/* 1263 */           } else if (project_elementAtIndex_18 > 0) {
/* 1264 */             project_elementAtIndex_18--;
/* 1265 */           } else {
/* 1266 */             project_elementAtIndex_18 += inputadapter_value_1.numElements();
/* 1267 */           }
/* 1268 */
/* 1269 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_18)) {
/* 1270 */             project_isNull_187 = true;
/* 1271 */           } else
/* 1272 */
/* 1273 */           {
/* 1274 */             project_value_187 = inputadapter_value_1.getFloat(project_elementAtIndex_18);
/* 1275 */           }
/* 1276 */         }
/* 1277 */
/* 1278 */       }
/* 1279 */       boolean project_isNull_186 = project_isNull_187;
/* 1280 */       double project_value_186 = -1.0;
/* 1281 */       if (!project_isNull_187) {
/* 1282 */         project_value_186 = (double) project_value_187;
/* 1283 */       }
/* 1284 */       if (!project_isNull_186) {
/* 1285 */         project_isNull_185 = false; // resultCode could change nullability.
/* 1286 */
/* 1287 */         project_value_185 = project_value_186 * 1000000.0D;
/* 1288 */
/* 1289 */       }
/* 1290 */       if (!project_isNull_185) {
/* 1291 */         project_isNull_184 = false; // resultCode could change nullability.
/* 1292 */
/* 1293 */         project_value_184 = project_value_185 + 0.5D;
/* 1294 */
/* 1295 */       }
/* 1296 */       boolean project_isNull_183 = project_isNull_184;
/* 1297 */       long project_value_183 = -1L;
/* 1298 */
/* 1299 */       if (!project_isNull_184) {
/* 1300 */         project_value_183 = (long)(java.lang.Math.floor(project_value_184));
/* 1301 */       }
/* 1302 */       boolean project_isNull_182 = project_isNull_183;
/* 1303 */       double project_value_182 = -1.0;
/* 1304 */       if (!project_isNull_183) {
/* 1305 */         project_value_182 = (double) project_value_183;
/* 1306 */       }
/* 1307 */
/* 1308 */       if (project_isNull_182) {
/* 1309 */         project_arrayData_0.setNullAt(18);
/* 1310 */       } else {
/* 1311 */         project_arrayData_0.setDouble(18, project_value_182);
/* 1312 */       }
/* 1313 */
/* 1314 */       boolean project_isNull_194 = true;
/* 1315 */       double project_value_194 = -1.0;
/* 1316 */       boolean project_isNull_195 = true;
/* 1317 */       double project_value_195 = -1.0;
/* 1318 */       boolean project_isNull_197 = true;
/* 1319 */       float project_value_197 = -1.0f;
/* 1320 */
/* 1321 */       if (!inputadapter_isNull_1) {
/* 1322 */         project_isNull_197 = false; // resultCode could change nullability.
/* 1323 */
/* 1324 */         int project_elementAtIndex_19 = (int) 20;
/* 1325 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_19)) {
/* 1326 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_19, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[19] /* errCtx */));
/* 1327 */         } else {
/* 1328 */           if (project_elementAtIndex_19 == 0) {
/* 1329 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[19] /* errCtx */));
/* 1330 */           } else if (project_elementAtIndex_19 > 0) {
/* 1331 */             project_elementAtIndex_19--;
/* 1332 */           } else {
/* 1333 */             project_elementAtIndex_19 += inputadapter_value_1.numElements();
/* 1334 */           }
/* 1335 */
/* 1336 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_19)) {
/* 1337 */             project_isNull_197 = true;
/* 1338 */           } else
/* 1339 */
/* 1340 */           {
/* 1341 */             project_value_197 = inputadapter_value_1.getFloat(project_elementAtIndex_19);
/* 1342 */           }
/* 1343 */         }
/* 1344 */
/* 1345 */       }
/* 1346 */       boolean project_isNull_196 = project_isNull_197;
/* 1347 */       double project_value_196 = -1.0;
/* 1348 */       if (!project_isNull_197) {
/* 1349 */         project_value_196 = (double) project_value_197;
/* 1350 */       }
/* 1351 */       if (!project_isNull_196) {
/* 1352 */         project_isNull_195 = false; // resultCode could change nullability.
/* 1353 */
/* 1354 */         project_value_195 = project_value_196 * 1000000.0D;
/* 1355 */
/* 1356 */       }
/* 1357 */       if (!project_isNull_195) {
/* 1358 */         project_isNull_194 = false; // resultCode could change nullability.
/* 1359 */
/* 1360 */         project_value_194 = project_value_195 + 0.5D;
/* 1361 */
/* 1362 */       }
/* 1363 */       boolean project_isNull_193 = project_isNull_194;
/* 1364 */       long project_value_193 = -1L;
/* 1365 */
/* 1366 */       if (!project_isNull_194) {
/* 1367 */         project_value_193 = (long)(java.lang.Math.floor(project_value_194));
/* 1368 */       }
/* 1369 */       boolean project_isNull_192 = project_isNull_193;
/* 1370 */       double project_value_192 = -1.0;
/* 1371 */       if (!project_isNull_193) {
/* 1372 */         project_value_192 = (double) project_value_193;
/* 1373 */       }
/* 1374 */
/* 1375 */       if (project_isNull_192) {
/* 1376 */         project_arrayData_0.setNullAt(19);
/* 1377 */       } else {
/* 1378 */         project_arrayData_0.setDouble(19, project_value_192);
/* 1379 */       }
/* 1380 */
/* 1381 */       boolean project_isNull_204 = true;
/* 1382 */       double project_value_204 = -1.0;
/* 1383 */       boolean project_isNull_205 = true;
/* 1384 */       double project_value_205 = -1.0;
/* 1385 */       boolean project_isNull_207 = true;
/* 1386 */       float project_value_207 = -1.0f;
/* 1387 */
/* 1388 */       if (!inputadapter_isNull_1) {
/* 1389 */         project_isNull_207 = false; // resultCode could change nullability.
/* 1390 */
/* 1391 */         int project_elementAtIndex_20 = (int) 21;
/* 1392 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_20)) {
/* 1393 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_20, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[20] /* errCtx */));
/* 1394 */         } else {
/* 1395 */           if (project_elementAtIndex_20 == 0) {
/* 1396 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[20] /* errCtx */));
/* 1397 */           } else if (project_elementAtIndex_20 > 0) {
/* 1398 */             project_elementAtIndex_20--;
/* 1399 */           } else {
/* 1400 */             project_elementAtIndex_20 += inputadapter_value_1.numElements();
/* 1401 */           }
/* 1402 */
/* 1403 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_20)) {
/* 1404 */             project_isNull_207 = true;
/* 1405 */           } else
/* 1406 */
/* 1407 */           {
/* 1408 */             project_value_207 = inputadapter_value_1.getFloat(project_elementAtIndex_20);
/* 1409 */           }
/* 1410 */         }
/* 1411 */
/* 1412 */       }
/* 1413 */       boolean project_isNull_206 = project_isNull_207;
/* 1414 */       double project_value_206 = -1.0;
/* 1415 */       if (!project_isNull_207) {
/* 1416 */         project_value_206 = (double) project_value_207;
/* 1417 */       }
/* 1418 */       if (!project_isNull_206) {
/* 1419 */         project_isNull_205 = false; // resultCode could change nullability.
/* 1420 */
/* 1421 */         project_value_205 = project_value_206 * 1000000.0D;
/* 1422 */
/* 1423 */       }
/* 1424 */       if (!project_isNull_205) {
/* 1425 */         project_isNull_204 = false; // resultCode could change nullability.
/* 1426 */
/* 1427 */         project_value_204 = project_value_205 + 0.5D;
/* 1428 */
/* 1429 */       }
/* 1430 */       boolean project_isNull_203 = project_isNull_204;
/* 1431 */       long project_value_203 = -1L;
/* 1432 */
/* 1433 */       if (!project_isNull_204) {
/* 1434 */         project_value_203 = (long)(java.lang.Math.floor(project_value_204));
/* 1435 */       }
/* 1436 */       boolean project_isNull_202 = project_isNull_203;
/* 1437 */       double project_value_202 = -1.0;
/* 1438 */       if (!project_isNull_203) {
/* 1439 */         project_value_202 = (double) project_value_203;
/* 1440 */       }
/* 1441 */
/* 1442 */       if (project_isNull_202) {
/* 1443 */         project_arrayData_0.setNullAt(20);
/* 1444 */       } else {
/* 1445 */         project_arrayData_0.setDouble(20, project_value_202);
/* 1446 */       }
/* 1447 */
/* 1448 */       boolean project_isNull_214 = true;
/* 1449 */       double project_value_214 = -1.0;
/* 1450 */       boolean project_isNull_215 = true;
/* 1451 */       double project_value_215 = -1.0;
/* 1452 */       boolean project_isNull_217 = true;
/* 1453 */       float project_value_217 = -1.0f;
/* 1454 */
/* 1455 */       if (!inputadapter_isNull_1) {
/* 1456 */         project_isNull_217 = false; // resultCode could change nullability.
/* 1457 */
/* 1458 */         int project_elementAtIndex_21 = (int) 22;
/* 1459 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_21)) {
/* 1460 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_21, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[21] /* errCtx */));
/* 1461 */         } else {
/* 1462 */           if (project_elementAtIndex_21 == 0) {
/* 1463 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[21] /* errCtx */));
/* 1464 */           } else if (project_elementAtIndex_21 > 0) {
/* 1465 */             project_elementAtIndex_21--;
/* 1466 */           } else {
/* 1467 */             project_elementAtIndex_21 += inputadapter_value_1.numElements();
/* 1468 */           }
/* 1469 */
/* 1470 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_21)) {
/* 1471 */             project_isNull_217 = true;
/* 1472 */           } else
/* 1473 */
/* 1474 */           {
/* 1475 */             project_value_217 = inputadapter_value_1.getFloat(project_elementAtIndex_21);
/* 1476 */           }
/* 1477 */         }
/* 1478 */
/* 1479 */       }
/* 1480 */       boolean project_isNull_216 = project_isNull_217;
/* 1481 */       double project_value_216 = -1.0;
/* 1482 */       if (!project_isNull_217) {
/* 1483 */         project_value_216 = (double) project_value_217;
/* 1484 */       }
/* 1485 */       if (!project_isNull_216) {
/* 1486 */         project_isNull_215 = false; // resultCode could change nullability.
/* 1487 */
/* 1488 */         project_value_215 = project_value_216 * 1000000.0D;
/* 1489 */
/* 1490 */       }
/* 1491 */       if (!project_isNull_215) {
/* 1492 */         project_isNull_214 = false; // resultCode could change nullability.
/* 1493 */
/* 1494 */         project_value_214 = project_value_215 + 0.5D;
/* 1495 */
/* 1496 */       }
/* 1497 */       boolean project_isNull_213 = project_isNull_214;
/* 1498 */       long project_value_213 = -1L;
/* 1499 */
/* 1500 */       if (!project_isNull_214) {
/* 1501 */         project_value_213 = (long)(java.lang.Math.floor(project_value_214));
/* 1502 */       }
/* 1503 */       boolean project_isNull_212 = project_isNull_213;
/* 1504 */       double project_value_212 = -1.0;
/* 1505 */       if (!project_isNull_213) {
/* 1506 */         project_value_212 = (double) project_value_213;
/* 1507 */       }
/* 1508 */
/* 1509 */       if (project_isNull_212) {
/* 1510 */         project_arrayData_0.setNullAt(21);
/* 1511 */       } else {
/* 1512 */         project_arrayData_0.setDouble(21, project_value_212);
/* 1513 */       }
/* 1514 */
/* 1515 */       boolean project_isNull_224 = true;
/* 1516 */       double project_value_224 = -1.0;
/* 1517 */       boolean project_isNull_225 = true;
/* 1518 */       double project_value_225 = -1.0;
/* 1519 */       boolean project_isNull_227 = true;
/* 1520 */       float project_value_227 = -1.0f;
/* 1521 */
/* 1522 */       if (!inputadapter_isNull_1) {
/* 1523 */         project_isNull_227 = false; // resultCode could change nullability.
/* 1524 */
/* 1525 */         int project_elementAtIndex_22 = (int) 23;
/* 1526 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_22)) {
/* 1527 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_22, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[22] /* errCtx */));
/* 1528 */         } else {
/* 1529 */           if (project_elementAtIndex_22 == 0) {
/* 1530 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[22] /* errCtx */));
/* 1531 */           } else if (project_elementAtIndex_22 > 0) {
/* 1532 */             project_elementAtIndex_22--;
/* 1533 */           } else {
/* 1534 */             project_elementAtIndex_22 += inputadapter_value_1.numElements();
/* 1535 */           }
/* 1536 */
/* 1537 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_22)) {
/* 1538 */             project_isNull_227 = true;
/* 1539 */           } else
/* 1540 */
/* 1541 */           {
/* 1542 */             project_value_227 = inputadapter_value_1.getFloat(project_elementAtIndex_22);
/* 1543 */           }
/* 1544 */         }
/* 1545 */
/* 1546 */       }
/* 1547 */       boolean project_isNull_226 = project_isNull_227;
/* 1548 */       double project_value_226 = -1.0;
/* 1549 */       if (!project_isNull_227) {
/* 1550 */         project_value_226 = (double) project_value_227;
/* 1551 */       }
/* 1552 */       if (!project_isNull_226) {
/* 1553 */         project_isNull_225 = false; // resultCode could change nullability.
/* 1554 */
/* 1555 */         project_value_225 = project_value_226 * 1000000.0D;
/* 1556 */
/* 1557 */       }
/* 1558 */       if (!project_isNull_225) {
/* 1559 */         project_isNull_224 = false; // resultCode could change nullability.
/* 1560 */
/* 1561 */         project_value_224 = project_value_225 + 0.5D;
/* 1562 */
/* 1563 */       }
/* 1564 */       boolean project_isNull_223 = project_isNull_224;
/* 1565 */       long project_value_223 = -1L;
/* 1566 */
/* 1567 */       if (!project_isNull_224) {
/* 1568 */         project_value_223 = (long)(java.lang.Math.floor(project_value_224));
/* 1569 */       }
/* 1570 */       boolean project_isNull_222 = project_isNull_223;
/* 1571 */       double project_value_222 = -1.0;
/* 1572 */       if (!project_isNull_223) {
/* 1573 */         project_value_222 = (double) project_value_223;
/* 1574 */       }
/* 1575 */
/* 1576 */       if (project_isNull_222) {
/* 1577 */         project_arrayData_0.setNullAt(22);
/* 1578 */       } else {
/* 1579 */         project_arrayData_0.setDouble(22, project_value_222);
/* 1580 */       }
/* 1581 */
/* 1582 */       boolean project_isNull_234 = true;
/* 1583 */       double project_value_234 = -1.0;
/* 1584 */       boolean project_isNull_235 = true;
/* 1585 */       double project_value_235 = -1.0;
/* 1586 */       boolean project_isNull_237 = true;
/* 1587 */       float project_value_237 = -1.0f;
/* 1588 */
/* 1589 */       if (!inputadapter_isNull_1) {
/* 1590 */         project_isNull_237 = false; // resultCode could change nullability.
/* 1591 */
/* 1592 */         int project_elementAtIndex_23 = (int) 24;
/* 1593 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_23)) {
/* 1594 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_23, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[23] /* errCtx */));
/* 1595 */         } else {
/* 1596 */           if (project_elementAtIndex_23 == 0) {
/* 1597 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[23] /* errCtx */));
/* 1598 */           } else if (project_elementAtIndex_23 > 0) {
/* 1599 */             project_elementAtIndex_23--;
/* 1600 */           } else {
/* 1601 */             project_elementAtIndex_23 += inputadapter_value_1.numElements();
/* 1602 */           }
/* 1603 */
/* 1604 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_23)) {
/* 1605 */             project_isNull_237 = true;
/* 1606 */           } else
/* 1607 */
/* 1608 */           {
/* 1609 */             project_value_237 = inputadapter_value_1.getFloat(project_elementAtIndex_23);
/* 1610 */           }
/* 1611 */         }
/* 1612 */
/* 1613 */       }
/* 1614 */       boolean project_isNull_236 = project_isNull_237;
/* 1615 */       double project_value_236 = -1.0;
/* 1616 */       if (!project_isNull_237) {
/* 1617 */         project_value_236 = (double) project_value_237;
/* 1618 */       }
/* 1619 */       if (!project_isNull_236) {
/* 1620 */         project_isNull_235 = false; // resultCode could change nullability.
/* 1621 */
/* 1622 */         project_value_235 = project_value_236 * 1000000.0D;
/* 1623 */
/* 1624 */       }
/* 1625 */       if (!project_isNull_235) {
/* 1626 */         project_isNull_234 = false; // resultCode could change nullability.
/* 1627 */
/* 1628 */         project_value_234 = project_value_235 + 0.5D;
/* 1629 */
/* 1630 */       }
/* 1631 */       boolean project_isNull_233 = project_isNull_234;
/* 1632 */       long project_value_233 = -1L;
/* 1633 */
/* 1634 */       if (!project_isNull_234) {
/* 1635 */         project_value_233 = (long)(java.lang.Math.floor(project_value_234));
/* 1636 */       }
/* 1637 */       boolean project_isNull_232 = project_isNull_233;
/* 1638 */       double project_value_232 = -1.0;
/* 1639 */       if (!project_isNull_233) {
/* 1640 */         project_value_232 = (double) project_value_233;
/* 1641 */       }
/* 1642 */
/* 1643 */       if (project_isNull_232) {
/* 1644 */         project_arrayData_0.setNullAt(23);
/* 1645 */       } else {
/* 1646 */         project_arrayData_0.setDouble(23, project_value_232);
/* 1647 */       }
/* 1648 */
/* 1649 */       boolean project_isNull_244 = true;
/* 1650 */       double project_value_244 = -1.0;
/* 1651 */       boolean project_isNull_245 = true;
/* 1652 */       double project_value_245 = -1.0;
/* 1653 */       boolean project_isNull_247 = true;
/* 1654 */       float project_value_247 = -1.0f;
/* 1655 */
/* 1656 */       if (!inputadapter_isNull_1) {
/* 1657 */         project_isNull_247 = false; // resultCode could change nullability.
/* 1658 */
/* 1659 */         int project_elementAtIndex_24 = (int) 25;
/* 1660 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_24)) {
/* 1661 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_24, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[24] /* errCtx */));
/* 1662 */         } else {
/* 1663 */           if (project_elementAtIndex_24 == 0) {
/* 1664 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[24] /* errCtx */));
/* 1665 */           } else if (project_elementAtIndex_24 > 0) {
/* 1666 */             project_elementAtIndex_24--;
/* 1667 */           } else {
/* 1668 */             project_elementAtIndex_24 += inputadapter_value_1.numElements();
/* 1669 */           }
/* 1670 */
/* 1671 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_24)) {
/* 1672 */             project_isNull_247 = true;
/* 1673 */           } else
/* 1674 */
/* 1675 */           {
/* 1676 */             project_value_247 = inputadapter_value_1.getFloat(project_elementAtIndex_24);
/* 1677 */           }
/* 1678 */         }
/* 1679 */
/* 1680 */       }
/* 1681 */       boolean project_isNull_246 = project_isNull_247;
/* 1682 */       double project_value_246 = -1.0;
/* 1683 */       if (!project_isNull_247) {
/* 1684 */         project_value_246 = (double) project_value_247;
/* 1685 */       }
/* 1686 */       if (!project_isNull_246) {
/* 1687 */         project_isNull_245 = false; // resultCode could change nullability.
/* 1688 */
/* 1689 */         project_value_245 = project_value_246 * 1000000.0D;
/* 1690 */
/* 1691 */       }
/* 1692 */       if (!project_isNull_245) {
/* 1693 */         project_isNull_244 = false; // resultCode could change nullability.
/* 1694 */
/* 1695 */         project_value_244 = project_value_245 + 0.5D;
/* 1696 */
/* 1697 */       }
/* 1698 */       boolean project_isNull_243 = project_isNull_244;
/* 1699 */       long project_value_243 = -1L;
/* 1700 */
/* 1701 */       if (!project_isNull_244) {
/* 1702 */         project_value_243 = (long)(java.lang.Math.floor(project_value_244));
/* 1703 */       }
/* 1704 */       boolean project_isNull_242 = project_isNull_243;
/* 1705 */       double project_value_242 = -1.0;
/* 1706 */       if (!project_isNull_243) {
/* 1707 */         project_value_242 = (double) project_value_243;
/* 1708 */       }
/* 1709 */
/* 1710 */       if (project_isNull_242) {
/* 1711 */         project_arrayData_0.setNullAt(24);
/* 1712 */       } else {
/* 1713 */         project_arrayData_0.setDouble(24, project_value_242);
/* 1714 */       }
/* 1715 */
/* 1716 */       boolean project_isNull_254 = true;
/* 1717 */       double project_value_254 = -1.0;
/* 1718 */       boolean project_isNull_255 = true;
/* 1719 */       double project_value_255 = -1.0;
/* 1720 */       boolean project_isNull_257 = true;
/* 1721 */       float project_value_257 = -1.0f;
/* 1722 */
/* 1723 */       if (!inputadapter_isNull_1) {
/* 1724 */         project_isNull_257 = false; // resultCode could change nullability.
/* 1725 */
/* 1726 */         int project_elementAtIndex_25 = (int) 26;
/* 1727 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_25)) {
/* 1728 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_25, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[25] /* errCtx */));
/* 1729 */         } else {
/* 1730 */           if (project_elementAtIndex_25 == 0) {
/* 1731 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[25] /* errCtx */));
/* 1732 */           } else if (project_elementAtIndex_25 > 0) {
/* 1733 */             project_elementAtIndex_25--;
/* 1734 */           } else {
/* 1735 */             project_elementAtIndex_25 += inputadapter_value_1.numElements();
/* 1736 */           }
/* 1737 */
/* 1738 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_25)) {
/* 1739 */             project_isNull_257 = true;
/* 1740 */           } else
/* 1741 */
/* 1742 */           {
/* 1743 */             project_value_257 = inputadapter_value_1.getFloat(project_elementAtIndex_25);
/* 1744 */           }
/* 1745 */         }
/* 1746 */
/* 1747 */       }
/* 1748 */       boolean project_isNull_256 = project_isNull_257;
/* 1749 */       double project_value_256 = -1.0;
/* 1750 */       if (!project_isNull_257) {
/* 1751 */         project_value_256 = (double) project_value_257;
/* 1752 */       }
/* 1753 */       if (!project_isNull_256) {
/* 1754 */         project_isNull_255 = false; // resultCode could change nullability.
/* 1755 */
/* 1756 */         project_value_255 = project_value_256 * 1000000.0D;
/* 1757 */
/* 1758 */       }
/* 1759 */       if (!project_isNull_255) {
/* 1760 */         project_isNull_254 = false; // resultCode could change nullability.
/* 1761 */
/* 1762 */         project_value_254 = project_value_255 + 0.5D;
/* 1763 */
/* 1764 */       }
/* 1765 */       boolean project_isNull_253 = project_isNull_254;
/* 1766 */       long project_value_253 = -1L;
/* 1767 */
/* 1768 */       if (!project_isNull_254) {
/* 1769 */         project_value_253 = (long)(java.lang.Math.floor(project_value_254));
/* 1770 */       }
/* 1771 */       boolean project_isNull_252 = project_isNull_253;
/* 1772 */       double project_value_252 = -1.0;
/* 1773 */       if (!project_isNull_253) {
/* 1774 */         project_value_252 = (double) project_value_253;
/* 1775 */       }
/* 1776 */
/* 1777 */       if (project_isNull_252) {
/* 1778 */         project_arrayData_0.setNullAt(25);
/* 1779 */       } else {
/* 1780 */         project_arrayData_0.setDouble(25, project_value_252);
/* 1781 */       }
/* 1782 */
/* 1783 */       boolean project_isNull_264 = true;
/* 1784 */       double project_value_264 = -1.0;
/* 1785 */       boolean project_isNull_265 = true;
/* 1786 */       double project_value_265 = -1.0;
/* 1787 */       boolean project_isNull_267 = true;
/* 1788 */       float project_value_267 = -1.0f;
/* 1789 */
/* 1790 */       if (!inputadapter_isNull_1) {
/* 1791 */         project_isNull_267 = false; // resultCode could change nullability.
/* 1792 */
/* 1793 */         int project_elementAtIndex_26 = (int) 27;
/* 1794 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_26)) {
/* 1795 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_26, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[26] /* errCtx */));
/* 1796 */         } else {
/* 1797 */           if (project_elementAtIndex_26 == 0) {
/* 1798 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[26] /* errCtx */));
/* 1799 */           } else if (project_elementAtIndex_26 > 0) {
/* 1800 */             project_elementAtIndex_26--;
/* 1801 */           } else {
/* 1802 */             project_elementAtIndex_26 += inputadapter_value_1.numElements();
/* 1803 */           }
/* 1804 */
/* 1805 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_26)) {
/* 1806 */             project_isNull_267 = true;
/* 1807 */           } else
/* 1808 */
/* 1809 */           {
/* 1810 */             project_value_267 = inputadapter_value_1.getFloat(project_elementAtIndex_26);
/* 1811 */           }
/* 1812 */         }
/* 1813 */
/* 1814 */       }
/* 1815 */       boolean project_isNull_266 = project_isNull_267;
/* 1816 */       double project_value_266 = -1.0;
/* 1817 */       if (!project_isNull_267) {
/* 1818 */         project_value_266 = (double) project_value_267;
/* 1819 */       }
/* 1820 */       if (!project_isNull_266) {
/* 1821 */         project_isNull_265 = false; // resultCode could change nullability.
/* 1822 */
/* 1823 */         project_value_265 = project_value_266 * 1000000.0D;
/* 1824 */
/* 1825 */       }
/* 1826 */       if (!project_isNull_265) {
/* 1827 */         project_isNull_264 = false; // resultCode could change nullability.
/* 1828 */
/* 1829 */         project_value_264 = project_value_265 + 0.5D;
/* 1830 */
/* 1831 */       }
/* 1832 */       boolean project_isNull_263 = project_isNull_264;
/* 1833 */       long project_value_263 = -1L;
/* 1834 */
/* 1835 */       if (!project_isNull_264) {
/* 1836 */         project_value_263 = (long)(java.lang.Math.floor(project_value_264));
/* 1837 */       }
/* 1838 */       boolean project_isNull_262 = project_isNull_263;
/* 1839 */       double project_value_262 = -1.0;
/* 1840 */       if (!project_isNull_263) {
/* 1841 */         project_value_262 = (double) project_value_263;
/* 1842 */       }
/* 1843 */
/* 1844 */       if (project_isNull_262) {
/* 1845 */         project_arrayData_0.setNullAt(26);
/* 1846 */       } else {
/* 1847 */         project_arrayData_0.setDouble(26, project_value_262);
/* 1848 */       }
/* 1849 */
/* 1850 */       boolean project_isNull_274 = true;
/* 1851 */       double project_value_274 = -1.0;
/* 1852 */       boolean project_isNull_275 = true;
/* 1853 */       double project_value_275 = -1.0;
/* 1854 */       boolean project_isNull_277 = true;
/* 1855 */       float project_value_277 = -1.0f;
/* 1856 */
/* 1857 */       if (!inputadapter_isNull_1) {
/* 1858 */         project_isNull_277 = false; // resultCode could change nullability.
/* 1859 */
/* 1860 */         int project_elementAtIndex_27 = (int) 28;
/* 1861 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_27)) {
/* 1862 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_27, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[27] /* errCtx */));
/* 1863 */         } else {
/* 1864 */           if (project_elementAtIndex_27 == 0) {
/* 1865 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[27] /* errCtx */));
/* 1866 */           } else if (project_elementAtIndex_27 > 0) {
/* 1867 */             project_elementAtIndex_27--;
/* 1868 */           } else {
/* 1869 */             project_elementAtIndex_27 += inputadapter_value_1.numElements();
/* 1870 */           }
/* 1871 */
/* 1872 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_27)) {
/* 1873 */             project_isNull_277 = true;
/* 1874 */           } else
/* 1875 */
/* 1876 */           {
/* 1877 */             project_value_277 = inputadapter_value_1.getFloat(project_elementAtIndex_27);
/* 1878 */           }
/* 1879 */         }
/* 1880 */
/* 1881 */       }
/* 1882 */       boolean project_isNull_276 = project_isNull_277;
/* 1883 */       double project_value_276 = -1.0;
/* 1884 */       if (!project_isNull_277) {
/* 1885 */         project_value_276 = (double) project_value_277;
/* 1886 */       }
/* 1887 */       if (!project_isNull_276) {
/* 1888 */         project_isNull_275 = false; // resultCode could change nullability.
/* 1889 */
/* 1890 */         project_value_275 = project_value_276 * 1000000.0D;
/* 1891 */
/* 1892 */       }
/* 1893 */       if (!project_isNull_275) {
/* 1894 */         project_isNull_274 = false; // resultCode could change nullability.
/* 1895 */
/* 1896 */         project_value_274 = project_value_275 + 0.5D;
/* 1897 */
/* 1898 */       }
/* 1899 */       boolean project_isNull_273 = project_isNull_274;
/* 1900 */       long project_value_273 = -1L;
/* 1901 */
/* 1902 */       if (!project_isNull_274) {
/* 1903 */         project_value_273 = (long)(java.lang.Math.floor(project_value_274));
/* 1904 */       }
/* 1905 */       boolean project_isNull_272 = project_isNull_273;
/* 1906 */       double project_value_272 = -1.0;
/* 1907 */       if (!project_isNull_273) {
/* 1908 */         project_value_272 = (double) project_value_273;
/* 1909 */       }
/* 1910 */
/* 1911 */       if (project_isNull_272) {
/* 1912 */         project_arrayData_0.setNullAt(27);
/* 1913 */       } else {
/* 1914 */         project_arrayData_0.setDouble(27, project_value_272);
/* 1915 */       }
/* 1916 */
/* 1917 */       boolean project_isNull_284 = true;
/* 1918 */       double project_value_284 = -1.0;
/* 1919 */       boolean project_isNull_285 = true;
/* 1920 */       double project_value_285 = -1.0;
/* 1921 */       boolean project_isNull_287 = true;
/* 1922 */       float project_value_287 = -1.0f;
/* 1923 */
/* 1924 */       if (!inputadapter_isNull_1) {
/* 1925 */         project_isNull_287 = false; // resultCode could change nullability.
/* 1926 */
/* 1927 */         int project_elementAtIndex_28 = (int) 29;
/* 1928 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_28)) {
/* 1929 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_28, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[28] /* errCtx */));
/* 1930 */         } else {
/* 1931 */           if (project_elementAtIndex_28 == 0) {
/* 1932 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[28] /* errCtx */));
/* 1933 */           } else if (project_elementAtIndex_28 > 0) {
/* 1934 */             project_elementAtIndex_28--;
/* 1935 */           } else {
/* 1936 */             project_elementAtIndex_28 += inputadapter_value_1.numElements();
/* 1937 */           }
/* 1938 */
/* 1939 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_28)) {
/* 1940 */             project_isNull_287 = true;
/* 1941 */           } else
/* 1942 */
/* 1943 */           {
/* 1944 */             project_value_287 = inputadapter_value_1.getFloat(project_elementAtIndex_28);
/* 1945 */           }
/* 1946 */         }
/* 1947 */
/* 1948 */       }
/* 1949 */       boolean project_isNull_286 = project_isNull_287;
/* 1950 */       double project_value_286 = -1.0;
/* 1951 */       if (!project_isNull_287) {
/* 1952 */         project_value_286 = (double) project_value_287;
/* 1953 */       }
/* 1954 */       if (!project_isNull_286) {
/* 1955 */         project_isNull_285 = false; // resultCode could change nullability.
/* 1956 */
/* 1957 */         project_value_285 = project_value_286 * 1000000.0D;
/* 1958 */
/* 1959 */       }
/* 1960 */       if (!project_isNull_285) {
/* 1961 */         project_isNull_284 = false; // resultCode could change nullability.
/* 1962 */
/* 1963 */         project_value_284 = project_value_285 + 0.5D;
/* 1964 */
/* 1965 */       }
/* 1966 */       boolean project_isNull_283 = project_isNull_284;
/* 1967 */       long project_value_283 = -1L;
/* 1968 */
/* 1969 */       if (!project_isNull_284) {
/* 1970 */         project_value_283 = (long)(java.lang.Math.floor(project_value_284));
/* 1971 */       }
/* 1972 */       boolean project_isNull_282 = project_isNull_283;
/* 1973 */       double project_value_282 = -1.0;
/* 1974 */       if (!project_isNull_283) {
/* 1975 */         project_value_282 = (double) project_value_283;
/* 1976 */       }
/* 1977 */
/* 1978 */       if (project_isNull_282) {
/* 1979 */         project_arrayData_0.setNullAt(28);
/* 1980 */       } else {
/* 1981 */         project_arrayData_0.setDouble(28, project_value_282);
/* 1982 */       }
/* 1983 */
/* 1984 */       boolean project_isNull_294 = true;
/* 1985 */       double project_value_294 = -1.0;
/* 1986 */       boolean project_isNull_295 = true;
/* 1987 */       double project_value_295 = -1.0;
/* 1988 */       boolean project_isNull_297 = true;
/* 1989 */       float project_value_297 = -1.0f;
/* 1990 */
/* 1991 */       if (!inputadapter_isNull_1) {
/* 1992 */         project_isNull_297 = false; // resultCode could change nullability.
/* 1993 */
/* 1994 */         int project_elementAtIndex_29 = (int) 30;
/* 1995 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_29)) {
/* 1996 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_29, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[29] /* errCtx */));
/* 1997 */         } else {
/* 1998 */           if (project_elementAtIndex_29 == 0) {
/* 1999 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[29] /* errCtx */));
/* 2000 */           } else if (project_elementAtIndex_29 > 0) {
/* 2001 */             project_elementAtIndex_29--;
/* 2002 */           } else {
/* 2003 */             project_elementAtIndex_29 += inputadapter_value_1.numElements();
/* 2004 */           }
/* 2005 */
/* 2006 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_29)) {
/* 2007 */             project_isNull_297 = true;
/* 2008 */           } else
/* 2009 */
/* 2010 */           {
/* 2011 */             project_value_297 = inputadapter_value_1.getFloat(project_elementAtIndex_29);
/* 2012 */           }
/* 2013 */         }
/* 2014 */
/* 2015 */       }
/* 2016 */       boolean project_isNull_296 = project_isNull_297;
/* 2017 */       double project_value_296 = -1.0;
/* 2018 */       if (!project_isNull_297) {
/* 2019 */         project_value_296 = (double) project_value_297;
/* 2020 */       }
/* 2021 */       if (!project_isNull_296) {
/* 2022 */         project_isNull_295 = false; // resultCode could change nullability.
/* 2023 */
/* 2024 */         project_value_295 = project_value_296 * 1000000.0D;
/* 2025 */
/* 2026 */       }
/* 2027 */       if (!project_isNull_295) {
/* 2028 */         project_isNull_294 = false; // resultCode could change nullability.
/* 2029 */
/* 2030 */         project_value_294 = project_value_295 + 0.5D;
/* 2031 */
/* 2032 */       }
/* 2033 */       boolean project_isNull_293 = project_isNull_294;
/* 2034 */       long project_value_293 = -1L;
/* 2035 */
/* 2036 */       if (!project_isNull_294) {
/* 2037 */         project_value_293 = (long)(java.lang.Math.floor(project_value_294));
/* 2038 */       }
/* 2039 */       boolean project_isNull_292 = project_isNull_293;
/* 2040 */       double project_value_292 = -1.0;
/* 2041 */       if (!project_isNull_293) {
/* 2042 */         project_value_292 = (double) project_value_293;
/* 2043 */       }
/* 2044 */
/* 2045 */       if (project_isNull_292) {
/* 2046 */         project_arrayData_0.setNullAt(29);
/* 2047 */       } else {
/* 2048 */         project_arrayData_0.setDouble(29, project_value_292);
/* 2049 */       }
/* 2050 */
/* 2051 */       boolean project_isNull_304 = true;
/* 2052 */       double project_value_304 = -1.0;
/* 2053 */       boolean project_isNull_305 = true;
/* 2054 */       double project_value_305 = -1.0;
/* 2055 */       boolean project_isNull_307 = true;
/* 2056 */       float project_value_307 = -1.0f;
/* 2057 */
/* 2058 */       if (!inputadapter_isNull_1) {
/* 2059 */         project_isNull_307 = false; // resultCode could change nullability.
/* 2060 */
/* 2061 */         int project_elementAtIndex_30 = (int) 31;
/* 2062 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_30)) {
/* 2063 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_30, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[30] /* errCtx */));
/* 2064 */         } else {
/* 2065 */           if (project_elementAtIndex_30 == 0) {
/* 2066 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[30] /* errCtx */));
/* 2067 */           } else if (project_elementAtIndex_30 > 0) {
/* 2068 */             project_elementAtIndex_30--;
/* 2069 */           } else {
/* 2070 */             project_elementAtIndex_30 += inputadapter_value_1.numElements();
/* 2071 */           }
/* 2072 */
/* 2073 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_30)) {
/* 2074 */             project_isNull_307 = true;
/* 2075 */           } else
/* 2076 */
/* 2077 */           {
/* 2078 */             project_value_307 = inputadapter_value_1.getFloat(project_elementAtIndex_30);
/* 2079 */           }
/* 2080 */         }
/* 2081 */
/* 2082 */       }
/* 2083 */       boolean project_isNull_306 = project_isNull_307;
/* 2084 */       double project_value_306 = -1.0;
/* 2085 */       if (!project_isNull_307) {
/* 2086 */         project_value_306 = (double) project_value_307;
/* 2087 */       }
/* 2088 */       if (!project_isNull_306) {
/* 2089 */         project_isNull_305 = false; // resultCode could change nullability.
/* 2090 */
/* 2091 */         project_value_305 = project_value_306 * 1000000.0D;
/* 2092 */
/* 2093 */       }
/* 2094 */       if (!project_isNull_305) {
/* 2095 */         project_isNull_304 = false; // resultCode could change nullability.
/* 2096 */
/* 2097 */         project_value_304 = project_value_305 + 0.5D;
/* 2098 */
/* 2099 */       }
/* 2100 */       boolean project_isNull_303 = project_isNull_304;
/* 2101 */       long project_value_303 = -1L;
/* 2102 */
/* 2103 */       if (!project_isNull_304) {
/* 2104 */         project_value_303 = (long)(java.lang.Math.floor(project_value_304));
/* 2105 */       }
/* 2106 */       boolean project_isNull_302 = project_isNull_303;
/* 2107 */       double project_value_302 = -1.0;
/* 2108 */       if (!project_isNull_303) {
/* 2109 */         project_value_302 = (double) project_value_303;
/* 2110 */       }
/* 2111 */
/* 2112 */       if (project_isNull_302) {
/* 2113 */         project_arrayData_0.setNullAt(30);
/* 2114 */       } else {
/* 2115 */         project_arrayData_0.setDouble(30, project_value_302);
/* 2116 */       }
/* 2117 */
/* 2118 */       boolean project_isNull_314 = true;
/* 2119 */       double project_value_314 = -1.0;
/* 2120 */       boolean project_isNull_315 = true;
/* 2121 */       double project_value_315 = -1.0;
/* 2122 */       boolean project_isNull_317 = true;
/* 2123 */       float project_value_317 = -1.0f;
/* 2124 */
/* 2125 */       if (!inputadapter_isNull_1) {
/* 2126 */         project_isNull_317 = false; // resultCode could change nullability.
/* 2127 */
/* 2128 */         int project_elementAtIndex_31 = (int) 32;
/* 2129 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_31)) {
/* 2130 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_31, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[31] /* errCtx */));
/* 2131 */         } else {
/* 2132 */           if (project_elementAtIndex_31 == 0) {
/* 2133 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[31] /* errCtx */));
/* 2134 */           } else if (project_elementAtIndex_31 > 0) {
/* 2135 */             project_elementAtIndex_31--;
/* 2136 */           } else {
/* 2137 */             project_elementAtIndex_31 += inputadapter_value_1.numElements();
/* 2138 */           }
/* 2139 */
/* 2140 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_31)) {
/* 2141 */             project_isNull_317 = true;
/* 2142 */           } else
/* 2143 */
/* 2144 */           {
/* 2145 */             project_value_317 = inputadapter_value_1.getFloat(project_elementAtIndex_31);
/* 2146 */           }
/* 2147 */         }
/* 2148 */
/* 2149 */       }
/* 2150 */       boolean project_isNull_316 = project_isNull_317;
/* 2151 */       double project_value_316 = -1.0;
/* 2152 */       if (!project_isNull_317) {
/* 2153 */         project_value_316 = (double) project_value_317;
/* 2154 */       }
/* 2155 */       if (!project_isNull_316) {
/* 2156 */         project_isNull_315 = false; // resultCode could change nullability.
/* 2157 */
/* 2158 */         project_value_315 = project_value_316 * 1000000.0D;
/* 2159 */
/* 2160 */       }
/* 2161 */       if (!project_isNull_315) {
/* 2162 */         project_isNull_314 = false; // resultCode could change nullability.
/* 2163 */
/* 2164 */         project_value_314 = project_value_315 + 0.5D;
/* 2165 */
/* 2166 */       }
/* 2167 */       boolean project_isNull_313 = project_isNull_314;
/* 2168 */       long project_value_313 = -1L;
/* 2169 */
/* 2170 */       if (!project_isNull_314) {
/* 2171 */         project_value_313 = (long)(java.lang.Math.floor(project_value_314));
/* 2172 */       }
/* 2173 */       boolean project_isNull_312 = project_isNull_313;
/* 2174 */       double project_value_312 = -1.0;
/* 2175 */       if (!project_isNull_313) {
/* 2176 */         project_value_312 = (double) project_value_313;
/* 2177 */       }
/* 2178 */
/* 2179 */       if (project_isNull_312) {
/* 2180 */         project_arrayData_0.setNullAt(31);
/* 2181 */       } else {
/* 2182 */         project_arrayData_0.setDouble(31, project_value_312);
/* 2183 */       }
/* 2184 */
/* 2185 */       boolean project_isNull_324 = true;
/* 2186 */       double project_value_324 = -1.0;
/* 2187 */       boolean project_isNull_325 = true;
/* 2188 */       double project_value_325 = -1.0;
/* 2189 */       boolean project_isNull_327 = true;
/* 2190 */       float project_value_327 = -1.0f;
/* 2191 */
/* 2192 */       if (!inputadapter_isNull_1) {
/* 2193 */         project_isNull_327 = false; // resultCode could change nullability.
/* 2194 */
/* 2195 */         int project_elementAtIndex_32 = (int) 33;
/* 2196 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_32)) {
/* 2197 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_32, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[32] /* errCtx */));
/* 2198 */         } else {
/* 2199 */           if (project_elementAtIndex_32 == 0) {
/* 2200 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[32] /* errCtx */));
/* 2201 */           } else if (project_elementAtIndex_32 > 0) {
/* 2202 */             project_elementAtIndex_32--;
/* 2203 */           } else {
/* 2204 */             project_elementAtIndex_32 += inputadapter_value_1.numElements();
/* 2205 */           }
/* 2206 */
/* 2207 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_32)) {
/* 2208 */             project_isNull_327 = true;
/* 2209 */           } else
/* 2210 */
/* 2211 */           {
/* 2212 */             project_value_327 = inputadapter_value_1.getFloat(project_elementAtIndex_32);
/* 2213 */           }
/* 2214 */         }
/* 2215 */
/* 2216 */       }
/* 2217 */       boolean project_isNull_326 = project_isNull_327;
/* 2218 */       double project_value_326 = -1.0;
/* 2219 */       if (!project_isNull_327) {
/* 2220 */         project_value_326 = (double) project_value_327;
/* 2221 */       }
/* 2222 */       if (!project_isNull_326) {
/* 2223 */         project_isNull_325 = false; // resultCode could change nullability.
/* 2224 */
/* 2225 */         project_value_325 = project_value_326 * 1000000.0D;
/* 2226 */
/* 2227 */       }
/* 2228 */       if (!project_isNull_325) {
/* 2229 */         project_isNull_324 = false; // resultCode could change nullability.
/* 2230 */
/* 2231 */         project_value_324 = project_value_325 + 0.5D;
/* 2232 */
/* 2233 */       }
/* 2234 */       boolean project_isNull_323 = project_isNull_324;
/* 2235 */       long project_value_323 = -1L;
/* 2236 */
/* 2237 */       if (!project_isNull_324) {
/* 2238 */         project_value_323 = (long)(java.lang.Math.floor(project_value_324));
/* 2239 */       }
/* 2240 */       boolean project_isNull_322 = project_isNull_323;
/* 2241 */       double project_value_322 = -1.0;
/* 2242 */       if (!project_isNull_323) {
/* 2243 */         project_value_322 = (double) project_value_323;
/* 2244 */       }
/* 2245 */
/* 2246 */       if (project_isNull_322) {
/* 2247 */         project_arrayData_0.setNullAt(32);
/* 2248 */       } else {
/* 2249 */         project_arrayData_0.setDouble(32, project_value_322);
/* 2250 */       }
/* 2251 */
/* 2252 */       boolean project_isNull_334 = true;
/* 2253 */       double project_value_334 = -1.0;
/* 2254 */       boolean project_isNull_335 = true;
/* 2255 */       double project_value_335 = -1.0;
/* 2256 */       boolean project_isNull_337 = true;
/* 2257 */       float project_value_337 = -1.0f;
/* 2258 */
/* 2259 */       if (!inputadapter_isNull_1) {
/* 2260 */         project_isNull_337 = false; // resultCode could change nullability.
/* 2261 */
/* 2262 */         int project_elementAtIndex_33 = (int) 34;
/* 2263 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_33)) {
/* 2264 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_33, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[33] /* errCtx */));
/* 2265 */         } else {
/* 2266 */           if (project_elementAtIndex_33 == 0) {
/* 2267 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[33] /* errCtx */));
/* 2268 */           } else if (project_elementAtIndex_33 > 0) {
/* 2269 */             project_elementAtIndex_33--;
/* 2270 */           } else {
/* 2271 */             project_elementAtIndex_33 += inputadapter_value_1.numElements();
/* 2272 */           }
/* 2273 */
/* 2274 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_33)) {
/* 2275 */             project_isNull_337 = true;
/* 2276 */           } else
/* 2277 */
/* 2278 */           {
/* 2279 */             project_value_337 = inputadapter_value_1.getFloat(project_elementAtIndex_33);
/* 2280 */           }
/* 2281 */         }
/* 2282 */
/* 2283 */       }
/* 2284 */       boolean project_isNull_336 = project_isNull_337;
/* 2285 */       double project_value_336 = -1.0;
/* 2286 */       if (!project_isNull_337) {
/* 2287 */         project_value_336 = (double) project_value_337;
/* 2288 */       }
/* 2289 */       if (!project_isNull_336) {
/* 2290 */         project_isNull_335 = false; // resultCode could change nullability.
/* 2291 */
/* 2292 */         project_value_335 = project_value_336 * 1000000.0D;
/* 2293 */
/* 2294 */       }
/* 2295 */       if (!project_isNull_335) {
/* 2296 */         project_isNull_334 = false; // resultCode could change nullability.
/* 2297 */
/* 2298 */         project_value_334 = project_value_335 + 0.5D;
/* 2299 */
/* 2300 */       }
/* 2301 */       boolean project_isNull_333 = project_isNull_334;
/* 2302 */       long project_value_333 = -1L;
/* 2303 */
/* 2304 */       if (!project_isNull_334) {
/* 2305 */         project_value_333 = (long)(java.lang.Math.floor(project_value_334));
/* 2306 */       }
/* 2307 */       boolean project_isNull_332 = project_isNull_333;
/* 2308 */       double project_value_332 = -1.0;
/* 2309 */       if (!project_isNull_333) {
/* 2310 */         project_value_332 = (double) project_value_333;
/* 2311 */       }
/* 2312 */
/* 2313 */       if (project_isNull_332) {
/* 2314 */         project_arrayData_0.setNullAt(33);
/* 2315 */       } else {
/* 2316 */         project_arrayData_0.setDouble(33, project_value_332);
/* 2317 */       }
/* 2318 */
/* 2319 */       boolean project_isNull_344 = true;
/* 2320 */       double project_value_344 = -1.0;
/* 2321 */       boolean project_isNull_345 = true;
/* 2322 */       double project_value_345 = -1.0;
/* 2323 */       boolean project_isNull_347 = true;
/* 2324 */       float project_value_347 = -1.0f;
/* 2325 */
/* 2326 */       if (!inputadapter_isNull_1) {
/* 2327 */         project_isNull_347 = false; // resultCode could change nullability.
/* 2328 */
/* 2329 */         int project_elementAtIndex_34 = (int) 35;
/* 2330 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_34)) {
/* 2331 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_34, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[34] /* errCtx */));
/* 2332 */         } else {
/* 2333 */           if (project_elementAtIndex_34 == 0) {
/* 2334 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[34] /* errCtx */));
/* 2335 */           } else if (project_elementAtIndex_34 > 0) {
/* 2336 */             project_elementAtIndex_34--;
/* 2337 */           } else {
/* 2338 */             project_elementAtIndex_34 += inputadapter_value_1.numElements();
/* 2339 */           }
/* 2340 */
/* 2341 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_34)) {
/* 2342 */             project_isNull_347 = true;
/* 2343 */           } else
/* 2344 */
/* 2345 */           {
/* 2346 */             project_value_347 = inputadapter_value_1.getFloat(project_elementAtIndex_34);
/* 2347 */           }
/* 2348 */         }
/* 2349 */
/* 2350 */       }
/* 2351 */       boolean project_isNull_346 = project_isNull_347;
/* 2352 */       double project_value_346 = -1.0;
/* 2353 */       if (!project_isNull_347) {
/* 2354 */         project_value_346 = (double) project_value_347;
/* 2355 */       }
/* 2356 */       if (!project_isNull_346) {
/* 2357 */         project_isNull_345 = false; // resultCode could change nullability.
/* 2358 */
/* 2359 */         project_value_345 = project_value_346 * 1000000.0D;
/* 2360 */
/* 2361 */       }
/* 2362 */       if (!project_isNull_345) {
/* 2363 */         project_isNull_344 = false; // resultCode could change nullability.
/* 2364 */
/* 2365 */         project_value_344 = project_value_345 + 0.5D;
/* 2366 */
/* 2367 */       }
/* 2368 */       boolean project_isNull_343 = project_isNull_344;
/* 2369 */       long project_value_343 = -1L;
/* 2370 */
/* 2371 */       if (!project_isNull_344) {
/* 2372 */         project_value_343 = (long)(java.lang.Math.floor(project_value_344));
/* 2373 */       }
/* 2374 */       boolean project_isNull_342 = project_isNull_343;
/* 2375 */       double project_value_342 = -1.0;
/* 2376 */       if (!project_isNull_343) {
/* 2377 */         project_value_342 = (double) project_value_343;
/* 2378 */       }
/* 2379 */
/* 2380 */       if (project_isNull_342) {
/* 2381 */         project_arrayData_0.setNullAt(34);
/* 2382 */       } else {
/* 2383 */         project_arrayData_0.setDouble(34, project_value_342);
/* 2384 */       }
/* 2385 */
/* 2386 */       boolean project_isNull_354 = true;
/* 2387 */       double project_value_354 = -1.0;
/* 2388 */       boolean project_isNull_355 = true;
/* 2389 */       double project_value_355 = -1.0;
/* 2390 */       boolean project_isNull_357 = true;
/* 2391 */       float project_value_357 = -1.0f;
/* 2392 */
/* 2393 */       if (!inputadapter_isNull_1) {
/* 2394 */         project_isNull_357 = false; // resultCode could change nullability.
/* 2395 */
/* 2396 */         int project_elementAtIndex_35 = (int) 36;
/* 2397 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_35)) {
/* 2398 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_35, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[35] /* errCtx */));
/* 2399 */         } else {
/* 2400 */           if (project_elementAtIndex_35 == 0) {
/* 2401 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[35] /* errCtx */));
/* 2402 */           } else if (project_elementAtIndex_35 > 0) {
/* 2403 */             project_elementAtIndex_35--;
/* 2404 */           } else {
/* 2405 */             project_elementAtIndex_35 += inputadapter_value_1.numElements();
/* 2406 */           }
/* 2407 */
/* 2408 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_35)) {
/* 2409 */             project_isNull_357 = true;
/* 2410 */           } else
/* 2411 */
/* 2412 */           {
/* 2413 */             project_value_357 = inputadapter_value_1.getFloat(project_elementAtIndex_35);
/* 2414 */           }
/* 2415 */         }
/* 2416 */
/* 2417 */       }
/* 2418 */       boolean project_isNull_356 = project_isNull_357;
/* 2419 */       double project_value_356 = -1.0;
/* 2420 */       if (!project_isNull_357) {
/* 2421 */         project_value_356 = (double) project_value_357;
/* 2422 */       }
/* 2423 */       if (!project_isNull_356) {
/* 2424 */         project_isNull_355 = false; // resultCode could change nullability.
/* 2425 */
/* 2426 */         project_value_355 = project_value_356 * 1000000.0D;
/* 2427 */
/* 2428 */       }
/* 2429 */       if (!project_isNull_355) {
/* 2430 */         project_isNull_354 = false; // resultCode could change nullability.
/* 2431 */
/* 2432 */         project_value_354 = project_value_355 + 0.5D;
/* 2433 */
/* 2434 */       }
/* 2435 */       boolean project_isNull_353 = project_isNull_354;
/* 2436 */       long project_value_353 = -1L;
/* 2437 */
/* 2438 */       if (!project_isNull_354) {
/* 2439 */         project_value_353 = (long)(java.lang.Math.floor(project_value_354));
/* 2440 */       }
/* 2441 */       boolean project_isNull_352 = project_isNull_353;
/* 2442 */       double project_value_352 = -1.0;
/* 2443 */       if (!project_isNull_353) {
/* 2444 */         project_value_352 = (double) project_value_353;
/* 2445 */       }
/* 2446 */
/* 2447 */       if (project_isNull_352) {
/* 2448 */         project_arrayData_0.setNullAt(35);
/* 2449 */       } else {
/* 2450 */         project_arrayData_0.setDouble(35, project_value_352);
/* 2451 */       }
/* 2452 */
/* 2453 */       boolean project_isNull_364 = true;
/* 2454 */       double project_value_364 = -1.0;
/* 2455 */       boolean project_isNull_365 = true;
/* 2456 */       double project_value_365 = -1.0;
/* 2457 */       boolean project_isNull_367 = true;
/* 2458 */       float project_value_367 = -1.0f;
/* 2459 */
/* 2460 */       if (!inputadapter_isNull_1) {
/* 2461 */         project_isNull_367 = false; // resultCode could change nullability.
/* 2462 */
/* 2463 */         int project_elementAtIndex_36 = (int) 37;
/* 2464 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_36)) {
/* 2465 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_36, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[36] /* errCtx */));
/* 2466 */         } else {
/* 2467 */           if (project_elementAtIndex_36 == 0) {
/* 2468 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[36] /* errCtx */));
/* 2469 */           } else if (project_elementAtIndex_36 > 0) {
/* 2470 */             project_elementAtIndex_36--;
/* 2471 */           } else {
/* 2472 */             project_elementAtIndex_36 += inputadapter_value_1.numElements();
/* 2473 */           }
/* 2474 */
/* 2475 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_36)) {
/* 2476 */             project_isNull_367 = true;
/* 2477 */           } else
/* 2478 */
/* 2479 */           {
/* 2480 */             project_value_367 = inputadapter_value_1.getFloat(project_elementAtIndex_36);
/* 2481 */           }
/* 2482 */         }
/* 2483 */
/* 2484 */       }
/* 2485 */       boolean project_isNull_366 = project_isNull_367;
/* 2486 */       double project_value_366 = -1.0;
/* 2487 */       if (!project_isNull_367) {
/* 2488 */         project_value_366 = (double) project_value_367;
/* 2489 */       }
/* 2490 */       if (!project_isNull_366) {
/* 2491 */         project_isNull_365 = false; // resultCode could change nullability.
/* 2492 */
/* 2493 */         project_value_365 = project_value_366 * 1000000.0D;
/* 2494 */
/* 2495 */       }
/* 2496 */       if (!project_isNull_365) {
/* 2497 */         project_isNull_364 = false; // resultCode could change nullability.
/* 2498 */
/* 2499 */         project_value_364 = project_value_365 + 0.5D;
/* 2500 */
/* 2501 */       }
/* 2502 */       boolean project_isNull_363 = project_isNull_364;
/* 2503 */       long project_value_363 = -1L;
/* 2504 */
/* 2505 */       if (!project_isNull_364) {
/* 2506 */         project_value_363 = (long)(java.lang.Math.floor(project_value_364));
/* 2507 */       }
/* 2508 */       boolean project_isNull_362 = project_isNull_363;
/* 2509 */       double project_value_362 = -1.0;
/* 2510 */       if (!project_isNull_363) {
/* 2511 */         project_value_362 = (double) project_value_363;
/* 2512 */       }
/* 2513 */
/* 2514 */       if (project_isNull_362) {
/* 2515 */         project_arrayData_0.setNullAt(36);
/* 2516 */       } else {
/* 2517 */         project_arrayData_0.setDouble(36, project_value_362);
/* 2518 */       }
/* 2519 */
/* 2520 */       boolean project_isNull_374 = true;
/* 2521 */       double project_value_374 = -1.0;
/* 2522 */       boolean project_isNull_375 = true;
/* 2523 */       double project_value_375 = -1.0;
/* 2524 */       boolean project_isNull_377 = true;
/* 2525 */       float project_value_377 = -1.0f;
/* 2526 */
/* 2527 */       if (!inputadapter_isNull_1) {
/* 2528 */         project_isNull_377 = false; // resultCode could change nullability.
/* 2529 */
/* 2530 */         int project_elementAtIndex_37 = (int) 38;
/* 2531 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_37)) {
/* 2532 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_37, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[37] /* errCtx */));
/* 2533 */         } else {
/* 2534 */           if (project_elementAtIndex_37 == 0) {
/* 2535 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[37] /* errCtx */));
/* 2536 */           } else if (project_elementAtIndex_37 > 0) {
/* 2537 */             project_elementAtIndex_37--;
/* 2538 */           } else {
/* 2539 */             project_elementAtIndex_37 += inputadapter_value_1.numElements();
/* 2540 */           }
/* 2541 */
/* 2542 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_37)) {
/* 2543 */             project_isNull_377 = true;
/* 2544 */           } else
/* 2545 */
/* 2546 */           {
/* 2547 */             project_value_377 = inputadapter_value_1.getFloat(project_elementAtIndex_37);
/* 2548 */           }
/* 2549 */         }
/* 2550 */
/* 2551 */       }
/* 2552 */       boolean project_isNull_376 = project_isNull_377;
/* 2553 */       double project_value_376 = -1.0;
/* 2554 */       if (!project_isNull_377) {
/* 2555 */         project_value_376 = (double) project_value_377;
/* 2556 */       }
/* 2557 */       if (!project_isNull_376) {
/* 2558 */         project_isNull_375 = false; // resultCode could change nullability.
/* 2559 */
/* 2560 */         project_value_375 = project_value_376 * 1000000.0D;
/* 2561 */
/* 2562 */       }
/* 2563 */       if (!project_isNull_375) {
/* 2564 */         project_isNull_374 = false; // resultCode could change nullability.
/* 2565 */
/* 2566 */         project_value_374 = project_value_375 + 0.5D;
/* 2567 */
/* 2568 */       }
/* 2569 */       boolean project_isNull_373 = project_isNull_374;
/* 2570 */       long project_value_373 = -1L;
/* 2571 */
/* 2572 */       if (!project_isNull_374) {
/* 2573 */         project_value_373 = (long)(java.lang.Math.floor(project_value_374));
/* 2574 */       }
/* 2575 */       boolean project_isNull_372 = project_isNull_373;
/* 2576 */       double project_value_372 = -1.0;
/* 2577 */       if (!project_isNull_373) {
/* 2578 */         project_value_372 = (double) project_value_373;
/* 2579 */       }
/* 2580 */
/* 2581 */       if (project_isNull_372) {
/* 2582 */         project_arrayData_0.setNullAt(37);
/* 2583 */       } else {
/* 2584 */         project_arrayData_0.setDouble(37, project_value_372);
/* 2585 */       }
/* 2586 */
/* 2587 */       boolean project_isNull_384 = true;
/* 2588 */       double project_value_384 = -1.0;
/* 2589 */       boolean project_isNull_385 = true;
/* 2590 */       double project_value_385 = -1.0;
/* 2591 */       boolean project_isNull_387 = true;
/* 2592 */       float project_value_387 = -1.0f;
/* 2593 */
/* 2594 */       if (!inputadapter_isNull_1) {
/* 2595 */         project_isNull_387 = false; // resultCode could change nullability.
/* 2596 */
/* 2597 */         int project_elementAtIndex_38 = (int) 39;
/* 2598 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_38)) {
/* 2599 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_38, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[38] /* errCtx */));
/* 2600 */         } else {
/* 2601 */           if (project_elementAtIndex_38 == 0) {
/* 2602 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[38] /* errCtx */));
/* 2603 */           } else if (project_elementAtIndex_38 > 0) {
/* 2604 */             project_elementAtIndex_38--;
/* 2605 */           } else {
/* 2606 */             project_elementAtIndex_38 += inputadapter_value_1.numElements();
/* 2607 */           }
/* 2608 */
/* 2609 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_38)) {
/* 2610 */             project_isNull_387 = true;
/* 2611 */           } else
/* 2612 */
/* 2613 */           {
/* 2614 */             project_value_387 = inputadapter_value_1.getFloat(project_elementAtIndex_38);
/* 2615 */           }
/* 2616 */         }
/* 2617 */
/* 2618 */       }
/* 2619 */       boolean project_isNull_386 = project_isNull_387;
/* 2620 */       double project_value_386 = -1.0;
/* 2621 */       if (!project_isNull_387) {
/* 2622 */         project_value_386 = (double) project_value_387;
/* 2623 */       }
/* 2624 */       if (!project_isNull_386) {
/* 2625 */         project_isNull_385 = false; // resultCode could change nullability.
/* 2626 */
/* 2627 */         project_value_385 = project_value_386 * 1000000.0D;
/* 2628 */
/* 2629 */       }
/* 2630 */       if (!project_isNull_385) {
/* 2631 */         project_isNull_384 = false; // resultCode could change nullability.
/* 2632 */
/* 2633 */         project_value_384 = project_value_385 + 0.5D;
/* 2634 */
/* 2635 */       }
/* 2636 */       boolean project_isNull_383 = project_isNull_384;
/* 2637 */       long project_value_383 = -1L;
/* 2638 */
/* 2639 */       if (!project_isNull_384) {
/* 2640 */         project_value_383 = (long)(java.lang.Math.floor(project_value_384));
/* 2641 */       }
/* 2642 */       boolean project_isNull_382 = project_isNull_383;
/* 2643 */       double project_value_382 = -1.0;
/* 2644 */       if (!project_isNull_383) {
/* 2645 */         project_value_382 = (double) project_value_383;
/* 2646 */       }
/* 2647 */
/* 2648 */       if (project_isNull_382) {
/* 2649 */         project_arrayData_0.setNullAt(38);
/* 2650 */       } else {
/* 2651 */         project_arrayData_0.setDouble(38, project_value_382);
/* 2652 */       }
/* 2653 */
/* 2654 */       boolean project_isNull_394 = true;
/* 2655 */       double project_value_394 = -1.0;
/* 2656 */       boolean project_isNull_395 = true;
/* 2657 */       double project_value_395 = -1.0;
/* 2658 */       boolean project_isNull_397 = true;
/* 2659 */       float project_value_397 = -1.0f;
/* 2660 */
/* 2661 */       if (!inputadapter_isNull_1) {
/* 2662 */         project_isNull_397 = false; // resultCode could change nullability.
/* 2663 */
/* 2664 */         int project_elementAtIndex_39 = (int) 40;
/* 2665 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_39)) {
/* 2666 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_39, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[39] /* errCtx */));
/* 2667 */         } else {
/* 2668 */           if (project_elementAtIndex_39 == 0) {
/* 2669 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[39] /* errCtx */));
/* 2670 */           } else if (project_elementAtIndex_39 > 0) {
/* 2671 */             project_elementAtIndex_39--;
/* 2672 */           } else {
/* 2673 */             project_elementAtIndex_39 += inputadapter_value_1.numElements();
/* 2674 */           }
/* 2675 */
/* 2676 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_39)) {
/* 2677 */             project_isNull_397 = true;
/* 2678 */           } else
/* 2679 */
/* 2680 */           {
/* 2681 */             project_value_397 = inputadapter_value_1.getFloat(project_elementAtIndex_39);
/* 2682 */           }
/* 2683 */         }
/* 2684 */
/* 2685 */       }
/* 2686 */       boolean project_isNull_396 = project_isNull_397;
/* 2687 */       double project_value_396 = -1.0;
/* 2688 */       if (!project_isNull_397) {
/* 2689 */         project_value_396 = (double) project_value_397;
/* 2690 */       }
/* 2691 */       if (!project_isNull_396) {
/* 2692 */         project_isNull_395 = false; // resultCode could change nullability.
/* 2693 */
/* 2694 */         project_value_395 = project_value_396 * 1000000.0D;
/* 2695 */
/* 2696 */       }
/* 2697 */       if (!project_isNull_395) {
/* 2698 */         project_isNull_394 = false; // resultCode could change nullability.
/* 2699 */
/* 2700 */         project_value_394 = project_value_395 + 0.5D;
/* 2701 */
/* 2702 */       }
/* 2703 */       boolean project_isNull_393 = project_isNull_394;
/* 2704 */       long project_value_393 = -1L;
/* 2705 */
/* 2706 */       if (!project_isNull_394) {
/* 2707 */         project_value_393 = (long)(java.lang.Math.floor(project_value_394));
/* 2708 */       }
/* 2709 */       boolean project_isNull_392 = project_isNull_393;
/* 2710 */       double project_value_392 = -1.0;
/* 2711 */       if (!project_isNull_393) {
/* 2712 */         project_value_392 = (double) project_value_393;
/* 2713 */       }
/* 2714 */
/* 2715 */       if (project_isNull_392) {
/* 2716 */         project_arrayData_0.setNullAt(39);
/* 2717 */       } else {
/* 2718 */         project_arrayData_0.setDouble(39, project_value_392);
/* 2719 */       }
/* 2720 */
/* 2721 */       boolean project_isNull_404 = true;
/* 2722 */       double project_value_404 = -1.0;
/* 2723 */       boolean project_isNull_405 = true;
/* 2724 */       double project_value_405 = -1.0;
/* 2725 */       boolean project_isNull_407 = true;
/* 2726 */       float project_value_407 = -1.0f;
/* 2727 */
/* 2728 */       if (!inputadapter_isNull_1) {
/* 2729 */         project_isNull_407 = false; // resultCode could change nullability.
/* 2730 */
/* 2731 */         int project_elementAtIndex_40 = (int) 41;
/* 2732 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_40)) {
/* 2733 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_40, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[40] /* errCtx */));
/* 2734 */         } else {
/* 2735 */           if (project_elementAtIndex_40 == 0) {
/* 2736 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[40] /* errCtx */));
/* 2737 */           } else if (project_elementAtIndex_40 > 0) {
/* 2738 */             project_elementAtIndex_40--;
/* 2739 */           } else {
/* 2740 */             project_elementAtIndex_40 += inputadapter_value_1.numElements();
/* 2741 */           }
/* 2742 */
/* 2743 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_40)) {
/* 2744 */             project_isNull_407 = true;
/* 2745 */           } else
/* 2746 */
/* 2747 */           {
/* 2748 */             project_value_407 = inputadapter_value_1.getFloat(project_elementAtIndex_40);
/* 2749 */           }
/* 2750 */         }
/* 2751 */
/* 2752 */       }
/* 2753 */       boolean project_isNull_406 = project_isNull_407;
/* 2754 */       double project_value_406 = -1.0;
/* 2755 */       if (!project_isNull_407) {
/* 2756 */         project_value_406 = (double) project_value_407;
/* 2757 */       }
/* 2758 */       if (!project_isNull_406) {
/* 2759 */         project_isNull_405 = false; // resultCode could change nullability.
/* 2760 */
/* 2761 */         project_value_405 = project_value_406 * 1000000.0D;
/* 2762 */
/* 2763 */       }
/* 2764 */       if (!project_isNull_405) {
/* 2765 */         project_isNull_404 = false; // resultCode could change nullability.
/* 2766 */
/* 2767 */         project_value_404 = project_value_405 + 0.5D;
/* 2768 */
/* 2769 */       }
/* 2770 */       boolean project_isNull_403 = project_isNull_404;
/* 2771 */       long project_value_403 = -1L;
/* 2772 */
/* 2773 */       if (!project_isNull_404) {
/* 2774 */         project_value_403 = (long)(java.lang.Math.floor(project_value_404));
/* 2775 */       }
/* 2776 */       boolean project_isNull_402 = project_isNull_403;
/* 2777 */       double project_value_402 = -1.0;
/* 2778 */       if (!project_isNull_403) {
/* 2779 */         project_value_402 = (double) project_value_403;
/* 2780 */       }
/* 2781 */
/* 2782 */       if (project_isNull_402) {
/* 2783 */         project_arrayData_0.setNullAt(40);
/* 2784 */       } else {
/* 2785 */         project_arrayData_0.setDouble(40, project_value_402);
/* 2786 */       }
/* 2787 */
/* 2788 */       boolean project_isNull_414 = true;
/* 2789 */       double project_value_414 = -1.0;
/* 2790 */       boolean project_isNull_415 = true;
/* 2791 */       double project_value_415 = -1.0;
/* 2792 */       boolean project_isNull_417 = true;
/* 2793 */       float project_value_417 = -1.0f;
/* 2794 */
/* 2795 */       if (!inputadapter_isNull_1) {
/* 2796 */         project_isNull_417 = false; // resultCode could change nullability.
/* 2797 */
/* 2798 */         int project_elementAtIndex_41 = (int) 42;
/* 2799 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_41)) {
/* 2800 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_41, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[41] /* errCtx */));
/* 2801 */         } else {
/* 2802 */           if (project_elementAtIndex_41 == 0) {
/* 2803 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[41] /* errCtx */));
/* 2804 */           } else if (project_elementAtIndex_41 > 0) {
/* 2805 */             project_elementAtIndex_41--;
/* 2806 */           } else {
/* 2807 */             project_elementAtIndex_41 += inputadapter_value_1.numElements();
/* 2808 */           }
/* 2809 */
/* 2810 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_41)) {
/* 2811 */             project_isNull_417 = true;
/* 2812 */           } else
/* 2813 */
/* 2814 */           {
/* 2815 */             project_value_417 = inputadapter_value_1.getFloat(project_elementAtIndex_41);
/* 2816 */           }
/* 2817 */         }
/* 2818 */
/* 2819 */       }
/* 2820 */       boolean project_isNull_416 = project_isNull_417;
/* 2821 */       double project_value_416 = -1.0;
/* 2822 */       if (!project_isNull_417) {
/* 2823 */         project_value_416 = (double) project_value_417;
/* 2824 */       }
/* 2825 */       if (!project_isNull_416) {
/* 2826 */         project_isNull_415 = false; // resultCode could change nullability.
/* 2827 */
/* 2828 */         project_value_415 = project_value_416 * 1000000.0D;
/* 2829 */
/* 2830 */       }
/* 2831 */       if (!project_isNull_415) {
/* 2832 */         project_isNull_414 = false; // resultCode could change nullability.
/* 2833 */
/* 2834 */         project_value_414 = project_value_415 + 0.5D;
/* 2835 */
/* 2836 */       }
/* 2837 */       boolean project_isNull_413 = project_isNull_414;
/* 2838 */       long project_value_413 = -1L;
/* 2839 */
/* 2840 */       if (!project_isNull_414) {
/* 2841 */         project_value_413 = (long)(java.lang.Math.floor(project_value_414));
/* 2842 */       }
/* 2843 */       boolean project_isNull_412 = project_isNull_413;
/* 2844 */       double project_value_412 = -1.0;
/* 2845 */       if (!project_isNull_413) {
/* 2846 */         project_value_412 = (double) project_value_413;
/* 2847 */       }
/* 2848 */
/* 2849 */       if (project_isNull_412) {
/* 2850 */         project_arrayData_0.setNullAt(41);
/* 2851 */       } else {
/* 2852 */         project_arrayData_0.setDouble(41, project_value_412);
/* 2853 */       }
/* 2854 */
/* 2855 */       boolean project_isNull_424 = true;
/* 2856 */       double project_value_424 = -1.0;
/* 2857 */       boolean project_isNull_425 = true;
/* 2858 */       double project_value_425 = -1.0;
/* 2859 */       boolean project_isNull_427 = true;
/* 2860 */       float project_value_427 = -1.0f;
/* 2861 */
/* 2862 */       if (!inputadapter_isNull_1) {
/* 2863 */         project_isNull_427 = false; // resultCode could change nullability.
/* 2864 */
/* 2865 */         int project_elementAtIndex_42 = (int) 43;
/* 2866 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_42)) {
/* 2867 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_42, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[42] /* errCtx */));
/* 2868 */         } else {
/* 2869 */           if (project_elementAtIndex_42 == 0) {
/* 2870 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[42] /* errCtx */));
/* 2871 */           } else if (project_elementAtIndex_42 > 0) {
/* 2872 */             project_elementAtIndex_42--;
/* 2873 */           } else {
/* 2874 */             project_elementAtIndex_42 += inputadapter_value_1.numElements();
/* 2875 */           }
/* 2876 */
/* 2877 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_42)) {
/* 2878 */             project_isNull_427 = true;
/* 2879 */           } else
/* 2880 */
/* 2881 */           {
/* 2882 */             project_value_427 = inputadapter_value_1.getFloat(project_elementAtIndex_42);
/* 2883 */           }
/* 2884 */         }
/* 2885 */
/* 2886 */       }
/* 2887 */       boolean project_isNull_426 = project_isNull_427;
/* 2888 */       double project_value_426 = -1.0;
/* 2889 */       if (!project_isNull_427) {
/* 2890 */         project_value_426 = (double) project_value_427;
/* 2891 */       }
/* 2892 */       if (!project_isNull_426) {
/* 2893 */         project_isNull_425 = false; // resultCode could change nullability.
/* 2894 */
/* 2895 */         project_value_425 = project_value_426 * 1000000.0D;
/* 2896 */
/* 2897 */       }
/* 2898 */       if (!project_isNull_425) {
/* 2899 */         project_isNull_424 = false; // resultCode could change nullability.
/* 2900 */
/* 2901 */         project_value_424 = project_value_425 + 0.5D;
/* 2902 */
/* 2903 */       }
/* 2904 */       boolean project_isNull_423 = project_isNull_424;
/* 2905 */       long project_value_423 = -1L;
/* 2906 */
/* 2907 */       if (!project_isNull_424) {
/* 2908 */         project_value_423 = (long)(java.lang.Math.floor(project_value_424));
/* 2909 */       }
/* 2910 */       boolean project_isNull_422 = project_isNull_423;
/* 2911 */       double project_value_422 = -1.0;
/* 2912 */       if (!project_isNull_423) {
/* 2913 */         project_value_422 = (double) project_value_423;
/* 2914 */       }
/* 2915 */
/* 2916 */       if (project_isNull_422) {
/* 2917 */         project_arrayData_0.setNullAt(42);
/* 2918 */       } else {
/* 2919 */         project_arrayData_0.setDouble(42, project_value_422);
/* 2920 */       }
/* 2921 */
/* 2922 */       boolean project_isNull_434 = true;
/* 2923 */       double project_value_434 = -1.0;
/* 2924 */       boolean project_isNull_435 = true;
/* 2925 */       double project_value_435 = -1.0;
/* 2926 */       boolean project_isNull_437 = true;
/* 2927 */       float project_value_437 = -1.0f;
/* 2928 */
/* 2929 */       if (!inputadapter_isNull_1) {
/* 2930 */         project_isNull_437 = false; // resultCode could change nullability.
/* 2931 */
/* 2932 */         int project_elementAtIndex_43 = (int) 44;
/* 2933 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_43)) {
/* 2934 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_43, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[43] /* errCtx */));
/* 2935 */         } else {
/* 2936 */           if (project_elementAtIndex_43 == 0) {
/* 2937 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[43] /* errCtx */));
/* 2938 */           } else if (project_elementAtIndex_43 > 0) {
/* 2939 */             project_elementAtIndex_43--;
/* 2940 */           } else {
/* 2941 */             project_elementAtIndex_43 += inputadapter_value_1.numElements();
/* 2942 */           }
/* 2943 */
/* 2944 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_43)) {
/* 2945 */             project_isNull_437 = true;
/* 2946 */           } else
/* 2947 */
/* 2948 */           {
/* 2949 */             project_value_437 = inputadapter_value_1.getFloat(project_elementAtIndex_43);
/* 2950 */           }
/* 2951 */         }
/* 2952 */
/* 2953 */       }
/* 2954 */       boolean project_isNull_436 = project_isNull_437;
/* 2955 */       double project_value_436 = -1.0;
/* 2956 */       if (!project_isNull_437) {
/* 2957 */         project_value_436 = (double) project_value_437;
/* 2958 */       }
/* 2959 */       if (!project_isNull_436) {
/* 2960 */         project_isNull_435 = false; // resultCode could change nullability.
/* 2961 */
/* 2962 */         project_value_435 = project_value_436 * 1000000.0D;
/* 2963 */
/* 2964 */       }
/* 2965 */       if (!project_isNull_435) {
/* 2966 */         project_isNull_434 = false; // resultCode could change nullability.
/* 2967 */
/* 2968 */         project_value_434 = project_value_435 + 0.5D;
/* 2969 */
/* 2970 */       }
/* 2971 */       boolean project_isNull_433 = project_isNull_434;
/* 2972 */       long project_value_433 = -1L;
/* 2973 */
/* 2974 */       if (!project_isNull_434) {
/* 2975 */         project_value_433 = (long)(java.lang.Math.floor(project_value_434));
/* 2976 */       }
/* 2977 */       boolean project_isNull_432 = project_isNull_433;
/* 2978 */       double project_value_432 = -1.0;
/* 2979 */       if (!project_isNull_433) {
/* 2980 */         project_value_432 = (double) project_value_433;
/* 2981 */       }
/* 2982 */
/* 2983 */       if (project_isNull_432) {
/* 2984 */         project_arrayData_0.setNullAt(43);
/* 2985 */       } else {
/* 2986 */         project_arrayData_0.setDouble(43, project_value_432);
/* 2987 */       }
/* 2988 */
/* 2989 */       boolean project_isNull_444 = true;
/* 2990 */       double project_value_444 = -1.0;
/* 2991 */       boolean project_isNull_445 = true;
/* 2992 */       double project_value_445 = -1.0;
/* 2993 */       boolean project_isNull_447 = true;
/* 2994 */       float project_value_447 = -1.0f;
/* 2995 */
/* 2996 */       if (!inputadapter_isNull_1) {
/* 2997 */         project_isNull_447 = false; // resultCode could change nullability.
/* 2998 */
/* 2999 */         int project_elementAtIndex_44 = (int) 45;
/* 3000 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_44)) {
/* 3001 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_44, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[44] /* errCtx */));
/* 3002 */         } else {
/* 3003 */           if (project_elementAtIndex_44 == 0) {
/* 3004 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[44] /* errCtx */));
/* 3005 */           } else if (project_elementAtIndex_44 > 0) {
/* 3006 */             project_elementAtIndex_44--;
/* 3007 */           } else {
/* 3008 */             project_elementAtIndex_44 += inputadapter_value_1.numElements();
/* 3009 */           }
/* 3010 */
/* 3011 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_44)) {
/* 3012 */             project_isNull_447 = true;
/* 3013 */           } else
/* 3014 */
/* 3015 */           {
/* 3016 */             project_value_447 = inputadapter_value_1.getFloat(project_elementAtIndex_44);
/* 3017 */           }
/* 3018 */         }
/* 3019 */
/* 3020 */       }
/* 3021 */       boolean project_isNull_446 = project_isNull_447;
/* 3022 */       double project_value_446 = -1.0;
/* 3023 */       if (!project_isNull_447) {
/* 3024 */         project_value_446 = (double) project_value_447;
/* 3025 */       }
/* 3026 */       if (!project_isNull_446) {
/* 3027 */         project_isNull_445 = false; // resultCode could change nullability.
/* 3028 */
/* 3029 */         project_value_445 = project_value_446 * 1000000.0D;
/* 3030 */
/* 3031 */       }
/* 3032 */       if (!project_isNull_445) {
/* 3033 */         project_isNull_444 = false; // resultCode could change nullability.
/* 3034 */
/* 3035 */         project_value_444 = project_value_445 + 0.5D;
/* 3036 */
/* 3037 */       }
/* 3038 */       boolean project_isNull_443 = project_isNull_444;
/* 3039 */       long project_value_443 = -1L;
/* 3040 */
/* 3041 */       if (!project_isNull_444) {
/* 3042 */         project_value_443 = (long)(java.lang.Math.floor(project_value_444));
/* 3043 */       }
/* 3044 */       boolean project_isNull_442 = project_isNull_443;
/* 3045 */       double project_value_442 = -1.0;
/* 3046 */       if (!project_isNull_443) {
/* 3047 */         project_value_442 = (double) project_value_443;
/* 3048 */       }
/* 3049 */
/* 3050 */       if (project_isNull_442) {
/* 3051 */         project_arrayData_0.setNullAt(44);
/* 3052 */       } else {
/* 3053 */         project_arrayData_0.setDouble(44, project_value_442);
/* 3054 */       }
/* 3055 */
/* 3056 */       boolean project_isNull_454 = true;
/* 3057 */       double project_value_454 = -1.0;
/* 3058 */       boolean project_isNull_455 = true;
/* 3059 */       double project_value_455 = -1.0;
/* 3060 */       boolean project_isNull_457 = true;
/* 3061 */       float project_value_457 = -1.0f;
/* 3062 */
/* 3063 */       if (!inputadapter_isNull_1) {
/* 3064 */         project_isNull_457 = false; // resultCode could change nullability.
/* 3065 */
/* 3066 */         int project_elementAtIndex_45 = (int) 46;
/* 3067 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_45)) {
/* 3068 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_45, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[45] /* errCtx */));
/* 3069 */         } else {
/* 3070 */           if (project_elementAtIndex_45 == 0) {
/* 3071 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[45] /* errCtx */));
/* 3072 */           } else if (project_elementAtIndex_45 > 0) {
/* 3073 */             project_elementAtIndex_45--;
/* 3074 */           } else {
/* 3075 */             project_elementAtIndex_45 += inputadapter_value_1.numElements();
/* 3076 */           }
/* 3077 */
/* 3078 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_45)) {
/* 3079 */             project_isNull_457 = true;
/* 3080 */           } else
/* 3081 */
/* 3082 */           {
/* 3083 */             project_value_457 = inputadapter_value_1.getFloat(project_elementAtIndex_45);
/* 3084 */           }
/* 3085 */         }
/* 3086 */
/* 3087 */       }
/* 3088 */       boolean project_isNull_456 = project_isNull_457;
/* 3089 */       double project_value_456 = -1.0;
/* 3090 */       if (!project_isNull_457) {
/* 3091 */         project_value_456 = (double) project_value_457;
/* 3092 */       }
/* 3093 */       if (!project_isNull_456) {
/* 3094 */         project_isNull_455 = false; // resultCode could change nullability.
/* 3095 */
/* 3096 */         project_value_455 = project_value_456 * 1000000.0D;
/* 3097 */
/* 3098 */       }
/* 3099 */       if (!project_isNull_455) {
/* 3100 */         project_isNull_454 = false; // resultCode could change nullability.
/* 3101 */
/* 3102 */         project_value_454 = project_value_455 + 0.5D;
/* 3103 */
/* 3104 */       }
/* 3105 */       boolean project_isNull_453 = project_isNull_454;
/* 3106 */       long project_value_453 = -1L;
/* 3107 */
/* 3108 */       if (!project_isNull_454) {
/* 3109 */         project_value_453 = (long)(java.lang.Math.floor(project_value_454));
/* 3110 */       }
/* 3111 */       boolean project_isNull_452 = project_isNull_453;
/* 3112 */       double project_value_452 = -1.0;
/* 3113 */       if (!project_isNull_453) {
/* 3114 */         project_value_452 = (double) project_value_453;
/* 3115 */       }
/* 3116 */
/* 3117 */       if (project_isNull_452) {
/* 3118 */         project_arrayData_0.setNullAt(45);
/* 3119 */       } else {
/* 3120 */         project_arrayData_0.setDouble(45, project_value_452);
/* 3121 */       }
/* 3122 */
/* 3123 */       boolean project_isNull_464 = true;
/* 3124 */       double project_value_464 = -1.0;
/* 3125 */       boolean project_isNull_465 = true;
/* 3126 */       double project_value_465 = -1.0;
/* 3127 */       boolean project_isNull_467 = true;
/* 3128 */       float project_value_467 = -1.0f;
/* 3129 */
/* 3130 */       if (!inputadapter_isNull_1) {
/* 3131 */         project_isNull_467 = false; // resultCode could change nullability.
/* 3132 */
/* 3133 */         int project_elementAtIndex_46 = (int) 47;
/* 3134 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_46)) {
/* 3135 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_46, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[46] /* errCtx */));
/* 3136 */         } else {
/* 3137 */           if (project_elementAtIndex_46 == 0) {
/* 3138 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[46] /* errCtx */));
/* 3139 */           } else if (project_elementAtIndex_46 > 0) {
/* 3140 */             project_elementAtIndex_46--;
/* 3141 */           } else {
/* 3142 */             project_elementAtIndex_46 += inputadapter_value_1.numElements();
/* 3143 */           }
/* 3144 */
/* 3145 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_46)) {
/* 3146 */             project_isNull_467 = true;
/* 3147 */           } else
/* 3148 */
/* 3149 */           {
/* 3150 */             project_value_467 = inputadapter_value_1.getFloat(project_elementAtIndex_46);
/* 3151 */           }
/* 3152 */         }
/* 3153 */
/* 3154 */       }
/* 3155 */       boolean project_isNull_466 = project_isNull_467;
/* 3156 */       double project_value_466 = -1.0;
/* 3157 */       if (!project_isNull_467) {
/* 3158 */         project_value_466 = (double) project_value_467;
/* 3159 */       }
/* 3160 */       if (!project_isNull_466) {
/* 3161 */         project_isNull_465 = false; // resultCode could change nullability.
/* 3162 */
/* 3163 */         project_value_465 = project_value_466 * 1000000.0D;
/* 3164 */
/* 3165 */       }
/* 3166 */       if (!project_isNull_465) {
/* 3167 */         project_isNull_464 = false; // resultCode could change nullability.
/* 3168 */
/* 3169 */         project_value_464 = project_value_465 + 0.5D;
/* 3170 */
/* 3171 */       }
/* 3172 */       boolean project_isNull_463 = project_isNull_464;
/* 3173 */       long project_value_463 = -1L;
/* 3174 */
/* 3175 */       if (!project_isNull_464) {
/* 3176 */         project_value_463 = (long)(java.lang.Math.floor(project_value_464));
/* 3177 */       }
/* 3178 */       boolean project_isNull_462 = project_isNull_463;
/* 3179 */       double project_value_462 = -1.0;
/* 3180 */       if (!project_isNull_463) {
/* 3181 */         project_value_462 = (double) project_value_463;
/* 3182 */       }
/* 3183 */
/* 3184 */       if (project_isNull_462) {
/* 3185 */         project_arrayData_0.setNullAt(46);
/* 3186 */       } else {
/* 3187 */         project_arrayData_0.setDouble(46, project_value_462);
/* 3188 */       }
/* 3189 */
/* 3190 */       boolean project_isNull_474 = true;
/* 3191 */       double project_value_474 = -1.0;
/* 3192 */       boolean project_isNull_475 = true;
/* 3193 */       double project_value_475 = -1.0;
/* 3194 */       boolean project_isNull_477 = true;
/* 3195 */       float project_value_477 = -1.0f;
/* 3196 */
/* 3197 */       if (!inputadapter_isNull_1) {
/* 3198 */         project_isNull_477 = false; // resultCode could change nullability.
/* 3199 */
/* 3200 */         int project_elementAtIndex_47 = (int) 48;
/* 3201 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_47)) {
/* 3202 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_47, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[47] /* errCtx */));
/* 3203 */         } else {
/* 3204 */           if (project_elementAtIndex_47 == 0) {
/* 3205 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[47] /* errCtx */));
/* 3206 */           } else if (project_elementAtIndex_47 > 0) {
/* 3207 */             project_elementAtIndex_47--;
/* 3208 */           } else {
/* 3209 */             project_elementAtIndex_47 += inputadapter_value_1.numElements();
/* 3210 */           }
/* 3211 */
/* 3212 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_47)) {
/* 3213 */             project_isNull_477 = true;
/* 3214 */           } else
/* 3215 */
/* 3216 */           {
/* 3217 */             project_value_477 = inputadapter_value_1.getFloat(project_elementAtIndex_47);
/* 3218 */           }
/* 3219 */         }
/* 3220 */
/* 3221 */       }
/* 3222 */       boolean project_isNull_476 = project_isNull_477;
/* 3223 */       double project_value_476 = -1.0;
/* 3224 */       if (!project_isNull_477) {
/* 3225 */         project_value_476 = (double) project_value_477;
/* 3226 */       }
/* 3227 */       if (!project_isNull_476) {
/* 3228 */         project_isNull_475 = false; // resultCode could change nullability.
/* 3229 */
/* 3230 */         project_value_475 = project_value_476 * 1000000.0D;
/* 3231 */
/* 3232 */       }
/* 3233 */       if (!project_isNull_475) {
/* 3234 */         project_isNull_474 = false; // resultCode could change nullability.
/* 3235 */
/* 3236 */         project_value_474 = project_value_475 + 0.5D;
/* 3237 */
/* 3238 */       }
/* 3239 */       boolean project_isNull_473 = project_isNull_474;
/* 3240 */       long project_value_473 = -1L;
/* 3241 */
/* 3242 */       if (!project_isNull_474) {
/* 3243 */         project_value_473 = (long)(java.lang.Math.floor(project_value_474));
/* 3244 */       }
/* 3245 */       boolean project_isNull_472 = project_isNull_473;
/* 3246 */       double project_value_472 = -1.0;
/* 3247 */       if (!project_isNull_473) {
/* 3248 */         project_value_472 = (double) project_value_473;
/* 3249 */       }
/* 3250 */
/* 3251 */       if (project_isNull_472) {
/* 3252 */         project_arrayData_0.setNullAt(47);
/* 3253 */       } else {
/* 3254 */         project_arrayData_0.setDouble(47, project_value_472);
/* 3255 */       }
/* 3256 */
/* 3257 */       boolean project_isNull_484 = true;
/* 3258 */       double project_value_484 = -1.0;
/* 3259 */       boolean project_isNull_485 = true;
/* 3260 */       double project_value_485 = -1.0;
/* 3261 */       boolean project_isNull_487 = true;
/* 3262 */       float project_value_487 = -1.0f;
/* 3263 */
/* 3264 */       if (!inputadapter_isNull_1) {
/* 3265 */         project_isNull_487 = false; // resultCode could change nullability.
/* 3266 */
/* 3267 */         int project_elementAtIndex_48 = (int) 49;
/* 3268 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_48)) {
/* 3269 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_48, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[48] /* errCtx */));
/* 3270 */         } else {
/* 3271 */           if (project_elementAtIndex_48 == 0) {
/* 3272 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[48] /* errCtx */));
/* 3273 */           } else if (project_elementAtIndex_48 > 0) {
/* 3274 */             project_elementAtIndex_48--;
/* 3275 */           } else {
/* 3276 */             project_elementAtIndex_48 += inputadapter_value_1.numElements();
/* 3277 */           }
/* 3278 */
/* 3279 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_48)) {
/* 3280 */             project_isNull_487 = true;
/* 3281 */           } else
/* 3282 */
/* 3283 */           {
/* 3284 */             project_value_487 = inputadapter_value_1.getFloat(project_elementAtIndex_48);
/* 3285 */           }
/* 3286 */         }
/* 3287 */
/* 3288 */       }
/* 3289 */       boolean project_isNull_486 = project_isNull_487;
/* 3290 */       double project_value_486 = -1.0;
/* 3291 */       if (!project_isNull_487) {
/* 3292 */         project_value_486 = (double) project_value_487;
/* 3293 */       }
/* 3294 */       if (!project_isNull_486) {
/* 3295 */         project_isNull_485 = false; // resultCode could change nullability.
/* 3296 */
/* 3297 */         project_value_485 = project_value_486 * 1000000.0D;
/* 3298 */
/* 3299 */       }
/* 3300 */       if (!project_isNull_485) {
/* 3301 */         project_isNull_484 = false; // resultCode could change nullability.
/* 3302 */
/* 3303 */         project_value_484 = project_value_485 + 0.5D;
/* 3304 */
/* 3305 */       }
/* 3306 */       boolean project_isNull_483 = project_isNull_484;
/* 3307 */       long project_value_483 = -1L;
/* 3308 */
/* 3309 */       if (!project_isNull_484) {
/* 3310 */         project_value_483 = (long)(java.lang.Math.floor(project_value_484));
/* 3311 */       }
/* 3312 */       boolean project_isNull_482 = project_isNull_483;
/* 3313 */       double project_value_482 = -1.0;
/* 3314 */       if (!project_isNull_483) {
/* 3315 */         project_value_482 = (double) project_value_483;
/* 3316 */       }
/* 3317 */
/* 3318 */       if (project_isNull_482) {
/* 3319 */         project_arrayData_0.setNullAt(48);
/* 3320 */       } else {
/* 3321 */         project_arrayData_0.setDouble(48, project_value_482);
/* 3322 */       }
/* 3323 */
/* 3324 */       boolean project_isNull_494 = true;
/* 3325 */       double project_value_494 = -1.0;
/* 3326 */       boolean project_isNull_495 = true;
/* 3327 */       double project_value_495 = -1.0;
/* 3328 */       boolean project_isNull_497 = true;
/* 3329 */       float project_value_497 = -1.0f;
/* 3330 */
/* 3331 */       if (!inputadapter_isNull_1) {
/* 3332 */         project_isNull_497 = false; // resultCode could change nullability.
/* 3333 */
/* 3334 */         int project_elementAtIndex_49 = (int) 50;
/* 3335 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_49)) {
/* 3336 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_49, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[49] /* errCtx */));
/* 3337 */         } else {
/* 3338 */           if (project_elementAtIndex_49 == 0) {
/* 3339 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[49] /* errCtx */));
/* 3340 */           } else if (project_elementAtIndex_49 > 0) {
/* 3341 */             project_elementAtIndex_49--;
/* 3342 */           } else {
/* 3343 */             project_elementAtIndex_49 += inputadapter_value_1.numElements();
/* 3344 */           }
/* 3345 */
/* 3346 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_49)) {
/* 3347 */             project_isNull_497 = true;
/* 3348 */           } else
/* 3349 */
/* 3350 */           {
/* 3351 */             project_value_497 = inputadapter_value_1.getFloat(project_elementAtIndex_49);
/* 3352 */           }
/* 3353 */         }
/* 3354 */
/* 3355 */       }
/* 3356 */       boolean project_isNull_496 = project_isNull_497;
/* 3357 */       double project_value_496 = -1.0;
/* 3358 */       if (!project_isNull_497) {
/* 3359 */         project_value_496 = (double) project_value_497;
/* 3360 */       }
/* 3361 */       if (!project_isNull_496) {
/* 3362 */         project_isNull_495 = false; // resultCode could change nullability.
/* 3363 */
/* 3364 */         project_value_495 = project_value_496 * 1000000.0D;
/* 3365 */
/* 3366 */       }
/* 3367 */       if (!project_isNull_495) {
/* 3368 */         project_isNull_494 = false; // resultCode could change nullability.
/* 3369 */
/* 3370 */         project_value_494 = project_value_495 + 0.5D;
/* 3371 */
/* 3372 */       }
/* 3373 */       boolean project_isNull_493 = project_isNull_494;
/* 3374 */       long project_value_493 = -1L;
/* 3375 */
/* 3376 */       if (!project_isNull_494) {
/* 3377 */         project_value_493 = (long)(java.lang.Math.floor(project_value_494));
/* 3378 */       }
/* 3379 */       boolean project_isNull_492 = project_isNull_493;
/* 3380 */       double project_value_492 = -1.0;
/* 3381 */       if (!project_isNull_493) {
/* 3382 */         project_value_492 = (double) project_value_493;
/* 3383 */       }
/* 3384 */
/* 3385 */       if (project_isNull_492) {
/* 3386 */         project_arrayData_0.setNullAt(49);
/* 3387 */       } else {
/* 3388 */         project_arrayData_0.setDouble(49, project_value_492);
/* 3389 */       }
/* 3390 */
/* 3391 */       boolean project_isNull_504 = true;
/* 3392 */       double project_value_504 = -1.0;
/* 3393 */       boolean project_isNull_505 = true;
/* 3394 */       double project_value_505 = -1.0;
/* 3395 */       boolean project_isNull_507 = true;
/* 3396 */       float project_value_507 = -1.0f;
/* 3397 */
/* 3398 */       if (!inputadapter_isNull_1) {
/* 3399 */         project_isNull_507 = false; // resultCode could change nullability.
/* 3400 */
/* 3401 */         int project_elementAtIndex_50 = (int) 51;
/* 3402 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_50)) {
/* 3403 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_50, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[50] /* errCtx */));
/* 3404 */         } else {
/* 3405 */           if (project_elementAtIndex_50 == 0) {
/* 3406 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[50] /* errCtx */));
/* 3407 */           } else if (project_elementAtIndex_50 > 0) {
/* 3408 */             project_elementAtIndex_50--;
/* 3409 */           } else {
/* 3410 */             project_elementAtIndex_50 += inputadapter_value_1.numElements();
/* 3411 */           }
/* 3412 */
/* 3413 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_50)) {
/* 3414 */             project_isNull_507 = true;
/* 3415 */           } else
/* 3416 */
/* 3417 */           {
/* 3418 */             project_value_507 = inputadapter_value_1.getFloat(project_elementAtIndex_50);
/* 3419 */           }
/* 3420 */         }
/* 3421 */
/* 3422 */       }
/* 3423 */       boolean project_isNull_506 = project_isNull_507;
/* 3424 */       double project_value_506 = -1.0;
/* 3425 */       if (!project_isNull_507) {
/* 3426 */         project_value_506 = (double) project_value_507;
/* 3427 */       }
/* 3428 */       if (!project_isNull_506) {
/* 3429 */         project_isNull_505 = false; // resultCode could change nullability.
/* 3430 */
/* 3431 */         project_value_505 = project_value_506 * 1000000.0D;
/* 3432 */
/* 3433 */       }
/* 3434 */       if (!project_isNull_505) {
/* 3435 */         project_isNull_504 = false; // resultCode could change nullability.
/* 3436 */
/* 3437 */         project_value_504 = project_value_505 + 0.5D;
/* 3438 */
/* 3439 */       }
/* 3440 */       boolean project_isNull_503 = project_isNull_504;
/* 3441 */       long project_value_503 = -1L;
/* 3442 */
/* 3443 */       if (!project_isNull_504) {
/* 3444 */         project_value_503 = (long)(java.lang.Math.floor(project_value_504));
/* 3445 */       }
/* 3446 */       boolean project_isNull_502 = project_isNull_503;
/* 3447 */       double project_value_502 = -1.0;
/* 3448 */       if (!project_isNull_503) {
/* 3449 */         project_value_502 = (double) project_value_503;
/* 3450 */       }
/* 3451 */
/* 3452 */       if (project_isNull_502) {
/* 3453 */         project_arrayData_0.setNullAt(50);
/* 3454 */       } else {
/* 3455 */         project_arrayData_0.setDouble(50, project_value_502);
/* 3456 */       }
/* 3457 */
/* 3458 */       boolean project_isNull_514 = true;
/* 3459 */       double project_value_514 = -1.0;
/* 3460 */       boolean project_isNull_515 = true;
/* 3461 */       double project_value_515 = -1.0;
/* 3462 */       boolean project_isNull_517 = true;
/* 3463 */       float project_value_517 = -1.0f;
/* 3464 */
/* 3465 */       if (!inputadapter_isNull_1) {
/* 3466 */         project_isNull_517 = false; // resultCode could change nullability.
/* 3467 */
/* 3468 */         int project_elementAtIndex_51 = (int) 52;
/* 3469 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_51)) {
/* 3470 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_51, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[51] /* errCtx */));
/* 3471 */         } else {
/* 3472 */           if (project_elementAtIndex_51 == 0) {
/* 3473 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[51] /* errCtx */));
/* 3474 */           } else if (project_elementAtIndex_51 > 0) {
/* 3475 */             project_elementAtIndex_51--;
/* 3476 */           } else {
/* 3477 */             project_elementAtIndex_51 += inputadapter_value_1.numElements();
/* 3478 */           }
/* 3479 */
/* 3480 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_51)) {
/* 3481 */             project_isNull_517 = true;
/* 3482 */           } else
/* 3483 */
/* 3484 */           {
/* 3485 */             project_value_517 = inputadapter_value_1.getFloat(project_elementAtIndex_51);
/* 3486 */           }
/* 3487 */         }
/* 3488 */
/* 3489 */       }
/* 3490 */       boolean project_isNull_516 = project_isNull_517;
/* 3491 */       double project_value_516 = -1.0;
/* 3492 */       if (!project_isNull_517) {
/* 3493 */         project_value_516 = (double) project_value_517;
/* 3494 */       }
/* 3495 */       if (!project_isNull_516) {
/* 3496 */         project_isNull_515 = false; // resultCode could change nullability.
/* 3497 */
/* 3498 */         project_value_515 = project_value_516 * 1000000.0D;
/* 3499 */
/* 3500 */       }
/* 3501 */       if (!project_isNull_515) {
/* 3502 */         project_isNull_514 = false; // resultCode could change nullability.
/* 3503 */
/* 3504 */         project_value_514 = project_value_515 + 0.5D;
/* 3505 */
/* 3506 */       }
/* 3507 */       boolean project_isNull_513 = project_isNull_514;
/* 3508 */       long project_value_513 = -1L;
/* 3509 */
/* 3510 */       if (!project_isNull_514) {
/* 3511 */         project_value_513 = (long)(java.lang.Math.floor(project_value_514));
/* 3512 */       }
/* 3513 */       boolean project_isNull_512 = project_isNull_513;
/* 3514 */       double project_value_512 = -1.0;
/* 3515 */       if (!project_isNull_513) {
/* 3516 */         project_value_512 = (double) project_value_513;
/* 3517 */       }
/* 3518 */
/* 3519 */       if (project_isNull_512) {
/* 3520 */         project_arrayData_0.setNullAt(51);
/* 3521 */       } else {
/* 3522 */         project_arrayData_0.setDouble(51, project_value_512);
/* 3523 */       }
/* 3524 */
/* 3525 */       boolean project_isNull_524 = true;
/* 3526 */       double project_value_524 = -1.0;
/* 3527 */       boolean project_isNull_525 = true;
/* 3528 */       double project_value_525 = -1.0;
/* 3529 */       boolean project_isNull_527 = true;
/* 3530 */       float project_value_527 = -1.0f;
/* 3531 */
/* 3532 */       if (!inputadapter_isNull_1) {
/* 3533 */         project_isNull_527 = false; // resultCode could change nullability.
/* 3534 */
/* 3535 */         int project_elementAtIndex_52 = (int) 53;
/* 3536 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_52)) {
/* 3537 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_52, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[52] /* errCtx */));
/* 3538 */         } else {
/* 3539 */           if (project_elementAtIndex_52 == 0) {
/* 3540 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[52] /* errCtx */));
/* 3541 */           } else if (project_elementAtIndex_52 > 0) {
/* 3542 */             project_elementAtIndex_52--;
/* 3543 */           } else {
/* 3544 */             project_elementAtIndex_52 += inputadapter_value_1.numElements();
/* 3545 */           }
/* 3546 */
/* 3547 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_52)) {
/* 3548 */             project_isNull_527 = true;
/* 3549 */           } else
/* 3550 */
/* 3551 */           {
/* 3552 */             project_value_527 = inputadapter_value_1.getFloat(project_elementAtIndex_52);
/* 3553 */           }
/* 3554 */         }
/* 3555 */
/* 3556 */       }
/* 3557 */       boolean project_isNull_526 = project_isNull_527;
/* 3558 */       double project_value_526 = -1.0;
/* 3559 */       if (!project_isNull_527) {
/* 3560 */         project_value_526 = (double) project_value_527;
/* 3561 */       }
/* 3562 */       if (!project_isNull_526) {
/* 3563 */         project_isNull_525 = false; // resultCode could change nullability.
/* 3564 */
/* 3565 */         project_value_525 = project_value_526 * 1000000.0D;
/* 3566 */
/* 3567 */       }
/* 3568 */       if (!project_isNull_525) {
/* 3569 */         project_isNull_524 = false; // resultCode could change nullability.
/* 3570 */
/* 3571 */         project_value_524 = project_value_525 + 0.5D;
/* 3572 */
/* 3573 */       }
/* 3574 */       boolean project_isNull_523 = project_isNull_524;
/* 3575 */       long project_value_523 = -1L;
/* 3576 */
/* 3577 */       if (!project_isNull_524) {
/* 3578 */         project_value_523 = (long)(java.lang.Math.floor(project_value_524));
/* 3579 */       }
/* 3580 */       boolean project_isNull_522 = project_isNull_523;
/* 3581 */       double project_value_522 = -1.0;
/* 3582 */       if (!project_isNull_523) {
/* 3583 */         project_value_522 = (double) project_value_523;
/* 3584 */       }
/* 3585 */
/* 3586 */       if (project_isNull_522) {
/* 3587 */         project_arrayData_0.setNullAt(52);
/* 3588 */       } else {
/* 3589 */         project_arrayData_0.setDouble(52, project_value_522);
/* 3590 */       }
/* 3591 */
/* 3592 */       boolean project_isNull_534 = true;
/* 3593 */       double project_value_534 = -1.0;
/* 3594 */       boolean project_isNull_535 = true;
/* 3595 */       double project_value_535 = -1.0;
/* 3596 */       boolean project_isNull_537 = true;
/* 3597 */       float project_value_537 = -1.0f;
/* 3598 */
/* 3599 */       if (!inputadapter_isNull_1) {
/* 3600 */         project_isNull_537 = false; // resultCode could change nullability.
/* 3601 */
/* 3602 */         int project_elementAtIndex_53 = (int) 54;
/* 3603 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_53)) {
/* 3604 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_53, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[53] /* errCtx */));
/* 3605 */         } else {
/* 3606 */           if (project_elementAtIndex_53 == 0) {
/* 3607 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[53] /* errCtx */));
/* 3608 */           } else if (project_elementAtIndex_53 > 0) {
/* 3609 */             project_elementAtIndex_53--;
/* 3610 */           } else {
/* 3611 */             project_elementAtIndex_53 += inputadapter_value_1.numElements();
/* 3612 */           }
/* 3613 */
/* 3614 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_53)) {
/* 3615 */             project_isNull_537 = true;
/* 3616 */           } else
/* 3617 */
/* 3618 */           {
/* 3619 */             project_value_537 = inputadapter_value_1.getFloat(project_elementAtIndex_53);
/* 3620 */           }
/* 3621 */         }
/* 3622 */
/* 3623 */       }
/* 3624 */       boolean project_isNull_536 = project_isNull_537;
/* 3625 */       double project_value_536 = -1.0;
/* 3626 */       if (!project_isNull_537) {
/* 3627 */         project_value_536 = (double) project_value_537;
/* 3628 */       }
/* 3629 */       if (!project_isNull_536) {
/* 3630 */         project_isNull_535 = false; // resultCode could change nullability.
/* 3631 */
/* 3632 */         project_value_535 = project_value_536 * 1000000.0D;
/* 3633 */
/* 3634 */       }
/* 3635 */       if (!project_isNull_535) {
/* 3636 */         project_isNull_534 = false; // resultCode could change nullability.
/* 3637 */
/* 3638 */         project_value_534 = project_value_535 + 0.5D;
/* 3639 */
/* 3640 */       }
/* 3641 */       boolean project_isNull_533 = project_isNull_534;
/* 3642 */       long project_value_533 = -1L;
/* 3643 */
/* 3644 */       if (!project_isNull_534) {
/* 3645 */         project_value_533 = (long)(java.lang.Math.floor(project_value_534));
/* 3646 */       }
/* 3647 */       boolean project_isNull_532 = project_isNull_533;
/* 3648 */       double project_value_532 = -1.0;
/* 3649 */       if (!project_isNull_533) {
/* 3650 */         project_value_532 = (double) project_value_533;
/* 3651 */       }
/* 3652 */
/* 3653 */       if (project_isNull_532) {
/* 3654 */         project_arrayData_0.setNullAt(53);
/* 3655 */       } else {
/* 3656 */         project_arrayData_0.setDouble(53, project_value_532);
/* 3657 */       }
/* 3658 */
/* 3659 */       boolean project_isNull_544 = true;
/* 3660 */       double project_value_544 = -1.0;
/* 3661 */       boolean project_isNull_545 = true;
/* 3662 */       double project_value_545 = -1.0;
/* 3663 */       boolean project_isNull_547 = true;
/* 3664 */       float project_value_547 = -1.0f;
/* 3665 */
/* 3666 */       if (!inputadapter_isNull_1) {
/* 3667 */         project_isNull_547 = false; // resultCode could change nullability.
/* 3668 */
/* 3669 */         int project_elementAtIndex_54 = (int) 55;
/* 3670 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_54)) {
/* 3671 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_54, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[54] /* errCtx */));
/* 3672 */         } else {
/* 3673 */           if (project_elementAtIndex_54 == 0) {
/* 3674 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[54] /* errCtx */));
/* 3675 */           } else if (project_elementAtIndex_54 > 0) {
/* 3676 */             project_elementAtIndex_54--;
/* 3677 */           } else {
/* 3678 */             project_elementAtIndex_54 += inputadapter_value_1.numElements();
/* 3679 */           }
/* 3680 */
/* 3681 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_54)) {
/* 3682 */             project_isNull_547 = true;
/* 3683 */           } else
/* 3684 */
/* 3685 */           {
/* 3686 */             project_value_547 = inputadapter_value_1.getFloat(project_elementAtIndex_54);
/* 3687 */           }
/* 3688 */         }
/* 3689 */
/* 3690 */       }
/* 3691 */       boolean project_isNull_546 = project_isNull_547;
/* 3692 */       double project_value_546 = -1.0;
/* 3693 */       if (!project_isNull_547) {
/* 3694 */         project_value_546 = (double) project_value_547;
/* 3695 */       }
/* 3696 */       if (!project_isNull_546) {
/* 3697 */         project_isNull_545 = false; // resultCode could change nullability.
/* 3698 */
/* 3699 */         project_value_545 = project_value_546 * 1000000.0D;
/* 3700 */
/* 3701 */       }
/* 3702 */       if (!project_isNull_545) {
/* 3703 */         project_isNull_544 = false; // resultCode could change nullability.
/* 3704 */
/* 3705 */         project_value_544 = project_value_545 + 0.5D;
/* 3706 */
/* 3707 */       }
/* 3708 */       boolean project_isNull_543 = project_isNull_544;
/* 3709 */       long project_value_543 = -1L;
/* 3710 */
/* 3711 */       if (!project_isNull_544) {
/* 3712 */         project_value_543 = (long)(java.lang.Math.floor(project_value_544));
/* 3713 */       }
/* 3714 */       boolean project_isNull_542 = project_isNull_543;
/* 3715 */       double project_value_542 = -1.0;
/* 3716 */       if (!project_isNull_543) {
/* 3717 */         project_value_542 = (double) project_value_543;
/* 3718 */       }
/* 3719 */
/* 3720 */       if (project_isNull_542) {
/* 3721 */         project_arrayData_0.setNullAt(54);
/* 3722 */       } else {
/* 3723 */         project_arrayData_0.setDouble(54, project_value_542);
/* 3724 */       }
/* 3725 */
/* 3726 */       boolean project_isNull_554 = true;
/* 3727 */       double project_value_554 = -1.0;
/* 3728 */       boolean project_isNull_555 = true;
/* 3729 */       double project_value_555 = -1.0;
/* 3730 */       boolean project_isNull_557 = true;
/* 3731 */       float project_value_557 = -1.0f;
/* 3732 */
/* 3733 */       if (!inputadapter_isNull_1) {
/* 3734 */         project_isNull_557 = false; // resultCode could change nullability.
/* 3735 */
/* 3736 */         int project_elementAtIndex_55 = (int) 56;
/* 3737 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_55)) {
/* 3738 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_55, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[55] /* errCtx */));
/* 3739 */         } else {
/* 3740 */           if (project_elementAtIndex_55 == 0) {
/* 3741 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[55] /* errCtx */));
/* 3742 */           } else if (project_elementAtIndex_55 > 0) {
/* 3743 */             project_elementAtIndex_55--;
/* 3744 */           } else {
/* 3745 */             project_elementAtIndex_55 += inputadapter_value_1.numElements();
/* 3746 */           }
/* 3747 */
/* 3748 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_55)) {
/* 3749 */             project_isNull_557 = true;
/* 3750 */           } else
/* 3751 */
/* 3752 */           {
/* 3753 */             project_value_557 = inputadapter_value_1.getFloat(project_elementAtIndex_55);
/* 3754 */           }
/* 3755 */         }
/* 3756 */
/* 3757 */       }
/* 3758 */       boolean project_isNull_556 = project_isNull_557;
/* 3759 */       double project_value_556 = -1.0;
/* 3760 */       if (!project_isNull_557) {
/* 3761 */         project_value_556 = (double) project_value_557;
/* 3762 */       }
/* 3763 */       if (!project_isNull_556) {
/* 3764 */         project_isNull_555 = false; // resultCode could change nullability.
/* 3765 */
/* 3766 */         project_value_555 = project_value_556 * 1000000.0D;
/* 3767 */
/* 3768 */       }
/* 3769 */       if (!project_isNull_555) {
/* 3770 */         project_isNull_554 = false; // resultCode could change nullability.
/* 3771 */
/* 3772 */         project_value_554 = project_value_555 + 0.5D;
/* 3773 */
/* 3774 */       }
/* 3775 */       boolean project_isNull_553 = project_isNull_554;
/* 3776 */       long project_value_553 = -1L;
/* 3777 */
/* 3778 */       if (!project_isNull_554) {
/* 3779 */         project_value_553 = (long)(java.lang.Math.floor(project_value_554));
/* 3780 */       }
/* 3781 */       boolean project_isNull_552 = project_isNull_553;
/* 3782 */       double project_value_552 = -1.0;
/* 3783 */       if (!project_isNull_553) {
/* 3784 */         project_value_552 = (double) project_value_553;
/* 3785 */       }
/* 3786 */
/* 3787 */       if (project_isNull_552) {
/* 3788 */         project_arrayData_0.setNullAt(55);
/* 3789 */       } else {
/* 3790 */         project_arrayData_0.setDouble(55, project_value_552);
/* 3791 */       }
/* 3792 */
/* 3793 */       boolean project_isNull_564 = true;
/* 3794 */       double project_value_564 = -1.0;
/* 3795 */       boolean project_isNull_565 = true;
/* 3796 */       double project_value_565 = -1.0;
/* 3797 */       boolean project_isNull_567 = true;
/* 3798 */       float project_value_567 = -1.0f;
/* 3799 */
/* 3800 */       if (!inputadapter_isNull_1) {
/* 3801 */         project_isNull_567 = false; // resultCode could change nullability.
/* 3802 */
/* 3803 */         int project_elementAtIndex_56 = (int) 57;
/* 3804 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_56)) {
/* 3805 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_56, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[56] /* errCtx */));
/* 3806 */         } else {
/* 3807 */           if (project_elementAtIndex_56 == 0) {
/* 3808 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[56] /* errCtx */));
/* 3809 */           } else if (project_elementAtIndex_56 > 0) {
/* 3810 */             project_elementAtIndex_56--;
/* 3811 */           } else {
/* 3812 */             project_elementAtIndex_56 += inputadapter_value_1.numElements();
/* 3813 */           }
/* 3814 */
/* 3815 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_56)) {
/* 3816 */             project_isNull_567 = true;
/* 3817 */           } else
/* 3818 */
/* 3819 */           {
/* 3820 */             project_value_567 = inputadapter_value_1.getFloat(project_elementAtIndex_56);
/* 3821 */           }
/* 3822 */         }
/* 3823 */
/* 3824 */       }
/* 3825 */       boolean project_isNull_566 = project_isNull_567;
/* 3826 */       double project_value_566 = -1.0;
/* 3827 */       if (!project_isNull_567) {
/* 3828 */         project_value_566 = (double) project_value_567;
/* 3829 */       }
/* 3830 */       if (!project_isNull_566) {
/* 3831 */         project_isNull_565 = false; // resultCode could change nullability.
/* 3832 */
/* 3833 */         project_value_565 = project_value_566 * 1000000.0D;
/* 3834 */
/* 3835 */       }
/* 3836 */       if (!project_isNull_565) {
/* 3837 */         project_isNull_564 = false; // resultCode could change nullability.
/* 3838 */
/* 3839 */         project_value_564 = project_value_565 + 0.5D;
/* 3840 */
/* 3841 */       }
/* 3842 */       boolean project_isNull_563 = project_isNull_564;
/* 3843 */       long project_value_563 = -1L;
/* 3844 */
/* 3845 */       if (!project_isNull_564) {
/* 3846 */         project_value_563 = (long)(java.lang.Math.floor(project_value_564));
/* 3847 */       }
/* 3848 */       boolean project_isNull_562 = project_isNull_563;
/* 3849 */       double project_value_562 = -1.0;
/* 3850 */       if (!project_isNull_563) {
/* 3851 */         project_value_562 = (double) project_value_563;
/* 3852 */       }
/* 3853 */
/* 3854 */       if (project_isNull_562) {
/* 3855 */         project_arrayData_0.setNullAt(56);
/* 3856 */       } else {
/* 3857 */         project_arrayData_0.setDouble(56, project_value_562);
/* 3858 */       }
/* 3859 */
/* 3860 */       boolean project_isNull_574 = true;
/* 3861 */       double project_value_574 = -1.0;
/* 3862 */       boolean project_isNull_575 = true;
/* 3863 */       double project_value_575 = -1.0;
/* 3864 */       boolean project_isNull_577 = true;
/* 3865 */       float project_value_577 = -1.0f;
/* 3866 */
/* 3867 */       if (!inputadapter_isNull_1) {
/* 3868 */         project_isNull_577 = false; // resultCode could change nullability.
/* 3869 */
/* 3870 */         int project_elementAtIndex_57 = (int) 58;
/* 3871 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_57)) {
/* 3872 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_57, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[57] /* errCtx */));
/* 3873 */         } else {
/* 3874 */           if (project_elementAtIndex_57 == 0) {
/* 3875 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[57] /* errCtx */));
/* 3876 */           } else if (project_elementAtIndex_57 > 0) {
/* 3877 */             project_elementAtIndex_57--;
/* 3878 */           } else {
/* 3879 */             project_elementAtIndex_57 += inputadapter_value_1.numElements();
/* 3880 */           }
/* 3881 */
/* 3882 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_57)) {
/* 3883 */             project_isNull_577 = true;
/* 3884 */           } else
/* 3885 */
/* 3886 */           {
/* 3887 */             project_value_577 = inputadapter_value_1.getFloat(project_elementAtIndex_57);
/* 3888 */           }
/* 3889 */         }
/* 3890 */
/* 3891 */       }
/* 3892 */       boolean project_isNull_576 = project_isNull_577;
/* 3893 */       double project_value_576 = -1.0;
/* 3894 */       if (!project_isNull_577) {
/* 3895 */         project_value_576 = (double) project_value_577;
/* 3896 */       }
/* 3897 */       if (!project_isNull_576) {
/* 3898 */         project_isNull_575 = false; // resultCode could change nullability.
/* 3899 */
/* 3900 */         project_value_575 = project_value_576 * 1000000.0D;
/* 3901 */
/* 3902 */       }
/* 3903 */       if (!project_isNull_575) {
/* 3904 */         project_isNull_574 = false; // resultCode could change nullability.
/* 3905 */
/* 3906 */         project_value_574 = project_value_575 + 0.5D;
/* 3907 */
/* 3908 */       }
/* 3909 */       boolean project_isNull_573 = project_isNull_574;
/* 3910 */       long project_value_573 = -1L;
/* 3911 */
/* 3912 */       if (!project_isNull_574) {
/* 3913 */         project_value_573 = (long)(java.lang.Math.floor(project_value_574));
/* 3914 */       }
/* 3915 */       boolean project_isNull_572 = project_isNull_573;
/* 3916 */       double project_value_572 = -1.0;
/* 3917 */       if (!project_isNull_573) {
/* 3918 */         project_value_572 = (double) project_value_573;
/* 3919 */       }
/* 3920 */
/* 3921 */       if (project_isNull_572) {
/* 3922 */         project_arrayData_0.setNullAt(57);
/* 3923 */       } else {
/* 3924 */         project_arrayData_0.setDouble(57, project_value_572);
/* 3925 */       }
/* 3926 */
/* 3927 */       boolean project_isNull_584 = true;
/* 3928 */       double project_value_584 = -1.0;
/* 3929 */       boolean project_isNull_585 = true;
/* 3930 */       double project_value_585 = -1.0;
/* 3931 */       boolean project_isNull_587 = true;
/* 3932 */       float project_value_587 = -1.0f;
/* 3933 */
/* 3934 */       if (!inputadapter_isNull_1) {
/* 3935 */         project_isNull_587 = false; // resultCode could change nullability.
/* 3936 */
/* 3937 */         int project_elementAtIndex_58 = (int) 59;
/* 3938 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_58)) {
/* 3939 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_58, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[58] /* errCtx */));
/* 3940 */         } else {
/* 3941 */           if (project_elementAtIndex_58 == 0) {
/* 3942 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[58] /* errCtx */));
/* 3943 */           } else if (project_elementAtIndex_58 > 0) {
/* 3944 */             project_elementAtIndex_58--;
/* 3945 */           } else {
/* 3946 */             project_elementAtIndex_58 += inputadapter_value_1.numElements();
/* 3947 */           }
/* 3948 */
/* 3949 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_58)) {
/* 3950 */             project_isNull_587 = true;
/* 3951 */           } else
/* 3952 */
/* 3953 */           {
/* 3954 */             project_value_587 = inputadapter_value_1.getFloat(project_elementAtIndex_58);
/* 3955 */           }
/* 3956 */         }
/* 3957 */
/* 3958 */       }
/* 3959 */       boolean project_isNull_586 = project_isNull_587;
/* 3960 */       double project_value_586 = -1.0;
/* 3961 */       if (!project_isNull_587) {
/* 3962 */         project_value_586 = (double) project_value_587;
/* 3963 */       }
/* 3964 */       if (!project_isNull_586) {
/* 3965 */         project_isNull_585 = false; // resultCode could change nullability.
/* 3966 */
/* 3967 */         project_value_585 = project_value_586 * 1000000.0D;
/* 3968 */
/* 3969 */       }
/* 3970 */       if (!project_isNull_585) {
/* 3971 */         project_isNull_584 = false; // resultCode could change nullability.
/* 3972 */
/* 3973 */         project_value_584 = project_value_585 + 0.5D;
/* 3974 */
/* 3975 */       }
/* 3976 */       boolean project_isNull_583 = project_isNull_584;
/* 3977 */       long project_value_583 = -1L;
/* 3978 */
/* 3979 */       if (!project_isNull_584) {
/* 3980 */         project_value_583 = (long)(java.lang.Math.floor(project_value_584));
/* 3981 */       }
/* 3982 */       boolean project_isNull_582 = project_isNull_583;
/* 3983 */       double project_value_582 = -1.0;
/* 3984 */       if (!project_isNull_583) {
/* 3985 */         project_value_582 = (double) project_value_583;
/* 3986 */       }
/* 3987 */
/* 3988 */       if (project_isNull_582) {
/* 3989 */         project_arrayData_0.setNullAt(58);
/* 3990 */       } else {
/* 3991 */         project_arrayData_0.setDouble(58, project_value_582);
/* 3992 */       }
/* 3993 */
/* 3994 */       boolean project_isNull_594 = true;
/* 3995 */       double project_value_594 = -1.0;
/* 3996 */       boolean project_isNull_595 = true;
/* 3997 */       double project_value_595 = -1.0;
/* 3998 */       boolean project_isNull_597 = true;
/* 3999 */       float project_value_597 = -1.0f;
/* 4000 */
/* 4001 */       if (!inputadapter_isNull_1) {
/* 4002 */         project_isNull_597 = false; // resultCode could change nullability.
/* 4003 */
/* 4004 */         int project_elementAtIndex_59 = (int) 60;
/* 4005 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_59)) {
/* 4006 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_59, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[59] /* errCtx */));
/* 4007 */         } else {
/* 4008 */           if (project_elementAtIndex_59 == 0) {
/* 4009 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[59] /* errCtx */));
/* 4010 */           } else if (project_elementAtIndex_59 > 0) {
/* 4011 */             project_elementAtIndex_59--;
/* 4012 */           } else {
/* 4013 */             project_elementAtIndex_59 += inputadapter_value_1.numElements();
/* 4014 */           }
/* 4015 */
/* 4016 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_59)) {
/* 4017 */             project_isNull_597 = true;
/* 4018 */           } else
/* 4019 */
/* 4020 */           {
/* 4021 */             project_value_597 = inputadapter_value_1.getFloat(project_elementAtIndex_59);
/* 4022 */           }
/* 4023 */         }
/* 4024 */
/* 4025 */       }
/* 4026 */       boolean project_isNull_596 = project_isNull_597;
/* 4027 */       double project_value_596 = -1.0;
/* 4028 */       if (!project_isNull_597) {
/* 4029 */         project_value_596 = (double) project_value_597;
/* 4030 */       }
/* 4031 */       if (!project_isNull_596) {
/* 4032 */         project_isNull_595 = false; // resultCode could change nullability.
/* 4033 */
/* 4034 */         project_value_595 = project_value_596 * 1000000.0D;
/* 4035 */
/* 4036 */       }
/* 4037 */       if (!project_isNull_595) {
/* 4038 */         project_isNull_594 = false; // resultCode could change nullability.
/* 4039 */
/* 4040 */         project_value_594 = project_value_595 + 0.5D;
/* 4041 */
/* 4042 */       }
/* 4043 */       boolean project_isNull_593 = project_isNull_594;
/* 4044 */       long project_value_593 = -1L;
/* 4045 */
/* 4046 */       if (!project_isNull_594) {
/* 4047 */         project_value_593 = (long)(java.lang.Math.floor(project_value_594));
/* 4048 */       }
/* 4049 */       boolean project_isNull_592 = project_isNull_593;
/* 4050 */       double project_value_592 = -1.0;
/* 4051 */       if (!project_isNull_593) {
/* 4052 */         project_value_592 = (double) project_value_593;
/* 4053 */       }
/* 4054 */
/* 4055 */       if (project_isNull_592) {
/* 4056 */         project_arrayData_0.setNullAt(59);
/* 4057 */       } else {
/* 4058 */         project_arrayData_0.setDouble(59, project_value_592);
/* 4059 */       }
/* 4060 */
/* 4061 */       boolean project_isNull_604 = true;
/* 4062 */       double project_value_604 = -1.0;
/* 4063 */       boolean project_isNull_605 = true;
/* 4064 */       double project_value_605 = -1.0;
/* 4065 */       boolean project_isNull_607 = true;
/* 4066 */       float project_value_607 = -1.0f;
/* 4067 */
/* 4068 */       if (!inputadapter_isNull_1) {
/* 4069 */         project_isNull_607 = false; // resultCode could change nullability.
/* 4070 */
/* 4071 */         int project_elementAtIndex_60 = (int) 61;
/* 4072 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_60)) {
/* 4073 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_60, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[60] /* errCtx */));
/* 4074 */         } else {
/* 4075 */           if (project_elementAtIndex_60 == 0) {
/* 4076 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[60] /* errCtx */));
/* 4077 */           } else if (project_elementAtIndex_60 > 0) {
/* 4078 */             project_elementAtIndex_60--;
/* 4079 */           } else {
/* 4080 */             project_elementAtIndex_60 += inputadapter_value_1.numElements();
/* 4081 */           }
/* 4082 */
/* 4083 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_60)) {
/* 4084 */             project_isNull_607 = true;
/* 4085 */           } else
/* 4086 */
/* 4087 */           {
/* 4088 */             project_value_607 = inputadapter_value_1.getFloat(project_elementAtIndex_60);
/* 4089 */           }
/* 4090 */         }
/* 4091 */
/* 4092 */       }
/* 4093 */       boolean project_isNull_606 = project_isNull_607;
/* 4094 */       double project_value_606 = -1.0;
/* 4095 */       if (!project_isNull_607) {
/* 4096 */         project_value_606 = (double) project_value_607;
/* 4097 */       }
/* 4098 */       if (!project_isNull_606) {
/* 4099 */         project_isNull_605 = false; // resultCode could change nullability.
/* 4100 */
/* 4101 */         project_value_605 = project_value_606 * 1000000.0D;
/* 4102 */
/* 4103 */       }
/* 4104 */       if (!project_isNull_605) {
/* 4105 */         project_isNull_604 = false; // resultCode could change nullability.
/* 4106 */
/* 4107 */         project_value_604 = project_value_605 + 0.5D;
/* 4108 */
/* 4109 */       }
/* 4110 */       boolean project_isNull_603 = project_isNull_604;
/* 4111 */       long project_value_603 = -1L;
/* 4112 */
/* 4113 */       if (!project_isNull_604) {
/* 4114 */         project_value_603 = (long)(java.lang.Math.floor(project_value_604));
/* 4115 */       }
/* 4116 */       boolean project_isNull_602 = project_isNull_603;
/* 4117 */       double project_value_602 = -1.0;
/* 4118 */       if (!project_isNull_603) {
/* 4119 */         project_value_602 = (double) project_value_603;
/* 4120 */       }
/* 4121 */
/* 4122 */       if (project_isNull_602) {
/* 4123 */         project_arrayData_0.setNullAt(60);
/* 4124 */       } else {
/* 4125 */         project_arrayData_0.setDouble(60, project_value_602);
/* 4126 */       }
/* 4127 */
/* 4128 */       boolean project_isNull_614 = true;
/* 4129 */       double project_value_614 = -1.0;
/* 4130 */       boolean project_isNull_615 = true;
/* 4131 */       double project_value_615 = -1.0;
/* 4132 */       boolean project_isNull_617 = true;
/* 4133 */       float project_value_617 = -1.0f;
/* 4134 */
/* 4135 */       if (!inputadapter_isNull_1) {
/* 4136 */         project_isNull_617 = false; // resultCode could change nullability.
/* 4137 */
/* 4138 */         int project_elementAtIndex_61 = (int) 62;
/* 4139 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_61)) {
/* 4140 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_61, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[61] /* errCtx */));
/* 4141 */         } else {
/* 4142 */           if (project_elementAtIndex_61 == 0) {
/* 4143 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[61] /* errCtx */));
/* 4144 */           } else if (project_elementAtIndex_61 > 0) {
/* 4145 */             project_elementAtIndex_61--;
/* 4146 */           } else {
/* 4147 */             project_elementAtIndex_61 += inputadapter_value_1.numElements();
/* 4148 */           }
/* 4149 */
/* 4150 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_61)) {
/* 4151 */             project_isNull_617 = true;
/* 4152 */           } else
/* 4153 */
/* 4154 */           {
/* 4155 */             project_value_617 = inputadapter_value_1.getFloat(project_elementAtIndex_61);
/* 4156 */           }
/* 4157 */         }
/* 4158 */
/* 4159 */       }
/* 4160 */       boolean project_isNull_616 = project_isNull_617;
/* 4161 */       double project_value_616 = -1.0;
/* 4162 */       if (!project_isNull_617) {
/* 4163 */         project_value_616 = (double) project_value_617;
/* 4164 */       }
/* 4165 */       if (!project_isNull_616) {
/* 4166 */         project_isNull_615 = false; // resultCode could change nullability.
/* 4167 */
/* 4168 */         project_value_615 = project_value_616 * 1000000.0D;
/* 4169 */
/* 4170 */       }
/* 4171 */       if (!project_isNull_615) {
/* 4172 */         project_isNull_614 = false; // resultCode could change nullability.
/* 4173 */
/* 4174 */         project_value_614 = project_value_615 + 0.5D;
/* 4175 */
/* 4176 */       }
/* 4177 */       boolean project_isNull_613 = project_isNull_614;
/* 4178 */       long project_value_613 = -1L;
/* 4179 */
/* 4180 */       if (!project_isNull_614) {
/* 4181 */         project_value_613 = (long)(java.lang.Math.floor(project_value_614));
/* 4182 */       }
/* 4183 */       boolean project_isNull_612 = project_isNull_613;
/* 4184 */       double project_value_612 = -1.0;
/* 4185 */       if (!project_isNull_613) {
/* 4186 */         project_value_612 = (double) project_value_613;
/* 4187 */       }
/* 4188 */
/* 4189 */       if (project_isNull_612) {
/* 4190 */         project_arrayData_0.setNullAt(61);
/* 4191 */       } else {
/* 4192 */         project_arrayData_0.setDouble(61, project_value_612);
/* 4193 */       }
/* 4194 */
/* 4195 */       boolean project_isNull_624 = true;
/* 4196 */       double project_value_624 = -1.0;
/* 4197 */       boolean project_isNull_625 = true;
/* 4198 */       double project_value_625 = -1.0;
/* 4199 */       boolean project_isNull_627 = true;
/* 4200 */       float project_value_627 = -1.0f;
/* 4201 */
/* 4202 */       if (!inputadapter_isNull_1) {
/* 4203 */         project_isNull_627 = false; // resultCode could change nullability.
/* 4204 */
/* 4205 */         int project_elementAtIndex_62 = (int) 63;
/* 4206 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_62)) {
/* 4207 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_62, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[62] /* errCtx */));
/* 4208 */         } else {
/* 4209 */           if (project_elementAtIndex_62 == 0) {
/* 4210 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[62] /* errCtx */));
/* 4211 */           } else if (project_elementAtIndex_62 > 0) {
/* 4212 */             project_elementAtIndex_62--;
/* 4213 */           } else {
/* 4214 */             project_elementAtIndex_62 += inputadapter_value_1.numElements();
/* 4215 */           }
/* 4216 */
/* 4217 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_62)) {
/* 4218 */             project_isNull_627 = true;
/* 4219 */           } else
/* 4220 */
/* 4221 */           {
/* 4222 */             project_value_627 = inputadapter_value_1.getFloat(project_elementAtIndex_62);
/* 4223 */           }
/* 4224 */         }
/* 4225 */
/* 4226 */       }
/* 4227 */       boolean project_isNull_626 = project_isNull_627;
/* 4228 */       double project_value_626 = -1.0;
/* 4229 */       if (!project_isNull_627) {
/* 4230 */         project_value_626 = (double) project_value_627;
/* 4231 */       }
/* 4232 */       if (!project_isNull_626) {
/* 4233 */         project_isNull_625 = false; // resultCode could change nullability.
/* 4234 */
/* 4235 */         project_value_625 = project_value_626 * 1000000.0D;
/* 4236 */
/* 4237 */       }
/* 4238 */       if (!project_isNull_625) {
/* 4239 */         project_isNull_624 = false; // resultCode could change nullability.
/* 4240 */
/* 4241 */         project_value_624 = project_value_625 + 0.5D;
/* 4242 */
/* 4243 */       }
/* 4244 */       boolean project_isNull_623 = project_isNull_624;
/* 4245 */       long project_value_623 = -1L;
/* 4246 */
/* 4247 */       if (!project_isNull_624) {
/* 4248 */         project_value_623 = (long)(java.lang.Math.floor(project_value_624));
/* 4249 */       }
/* 4250 */       boolean project_isNull_622 = project_isNull_623;
/* 4251 */       double project_value_622 = -1.0;
/* 4252 */       if (!project_isNull_623) {
/* 4253 */         project_value_622 = (double) project_value_623;
/* 4254 */       }
/* 4255 */
/* 4256 */       if (project_isNull_622) {
/* 4257 */         project_arrayData_0.setNullAt(62);
/* 4258 */       } else {
/* 4259 */         project_arrayData_0.setDouble(62, project_value_622);
/* 4260 */       }
/* 4261 */
/* 4262 */       boolean project_isNull_634 = true;
/* 4263 */       double project_value_634 = -1.0;
/* 4264 */       boolean project_isNull_635 = true;
/* 4265 */       double project_value_635 = -1.0;
/* 4266 */       boolean project_isNull_637 = true;
/* 4267 */       float project_value_637 = -1.0f;
/* 4268 */
/* 4269 */       if (!inputadapter_isNull_1) {
/* 4270 */         project_isNull_637 = false; // resultCode could change nullability.
/* 4271 */
/* 4272 */         int project_elementAtIndex_63 = (int) 64;
/* 4273 */         if (inputadapter_value_1.numElements() < Math.abs(project_elementAtIndex_63)) {
/* 4274 */           throw QueryExecutionErrors.invalidElementAtIndexError(project_elementAtIndex_63, inputadapter_value_1.numElements(), ((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[63] /* errCtx */));
/* 4275 */         } else {
/* 4276 */           if (project_elementAtIndex_63 == 0) {
/* 4277 */             throw QueryExecutionErrors.invalidIndexOfZeroError(((org.apache.spark.sql.catalyst.trees.DataFrameQueryContext) references[63] /* errCtx */));
/* 4278 */           } else if (project_elementAtIndex_63 > 0) {
/* 4279 */             project_elementAtIndex_63--;
/* 4280 */           } else {
/* 4281 */             project_elementAtIndex_63 += inputadapter_value_1.numElements();
/* 4282 */           }
/* 4283 */
/* 4284 */           if (inputadapter_value_1.isNullAt(project_elementAtIndex_63)) {
/* 4285 */             project_isNull_637 = true;
/* 4286 */           } else
/* 4287 */
/* 4288 */           {
/* 4289 */             project_value_637 = inputadapter_value_1.getFloat(project_elementAtIndex_63);
/* 4290 */           }
/* 4291 */         }
/* 4292 */
/* 4293 */       }
/* 4294 */       boolean project_isNull_636 = project_isNull_637;
/* 4295 */       double project_value_636 = -1.0;
/* 4296 */       if (!project_isNull_637) {
/* 4297 */         project_value_636 = (double) project_value_637;
/* 4298 */       }
/* 4299 */       if (!project_isNull_636) {
/* 4300 */         project_isNull_635 = false; // resultCode could change nullability.
/* 4301 */
/* 4302 */         project_value_635 = project_value_636 * 1000000.0D;
/* 4303 */
/* 4304 */       }
/* 4305 */       if (!project_isNull_635) {
/* 4306 */         project_isNull_634 = false; // resultCode could change nullability.
/* 4307 */
/* 4308 */         project_value_634 = project_value_635 + 0.5D;
/* 4309 */
/* 4310 */       }
/* 4311 */       boolean project_isNull_633 = project_isNull_634;
/* 4312 */       long project_value_633 = -1L;
/* 4313 */
/* 4314 */       if (!project_isNull_634) {
/* 4315 */         project_value_633 = (long)(java.lang.Math.floor(project_value_634));
/* 4316 */       }
/* 4317 */       boolean project_isNull_632 = project_isNull_633;
/* 4318 */       double project_value_632 = -1.0;
/* 4319 */       if (!project_isNull_633) {
/* 4320 */         project_value_632 = (double) project_value_633;
/* 4321 */       }
/* 4322 */
/* 4323 */       if (project_isNull_632) {
/* 4324 */         project_arrayData_0.setNullAt(63);
/* 4325 */       } else {
/* 4326 */         project_arrayData_0.setDouble(63, project_value_632);
/* 4327 */       }
/* 4328 */
/* 4329 */       // common sub-expressions
/* 4330 */
/* 4331 */       boolean inputadapter_isNull_0 = inputadapter_row_0.isNullAt(0);
/* 4332 */       long inputadapter_value_0 = inputadapter_isNull_0 ?
/* 4333 */       -1L : (inputadapter_row_0.getLong(0));
/* 4334 */       boolean project_isNull_646 = true;
/* 4335 */       double project_value_646 = -1.0;
/* 4336 */
/* 4337 */       project_isNull_646 = false; // resultCode could change nullability.
/* 4338 */
/* 4339 */       int project_n_0 = java.lang.Math.min(project_arrayData_0.numElements(), project_arrayData_0.numElements());
/* 4340 */       double project_acc_0 = 0.0;
/* 4341 */       for (int project_i_0 = 0; project_i_0 < project_n_0 && !project_isNull_646; project_i_0++) {
/* 4342 */         if (project_arrayData_0.isNullAt(project_i_0) || project_arrayData_0.isNullAt(project_i_0)) {
/* 4343 */           project_isNull_646 = true;
/* 4344 */         } else {
/* 4345 */           project_acc_0 += project_arrayData_0.getDouble(project_i_0) * project_arrayData_0.getDouble(project_i_0);
/* 4346 */         }
/* 4347 */       }
/* 4348 */       project_value_646 = project_acc_0;
/* 4349 */       project_mutableStateArray_0[1].reset();
/* 4350 */
/* 4351 */       project_mutableStateArray_0[1].zeroOutNullBytes();
/* 4352 */
/* 4353 */       if (inputadapter_isNull_0) {
/* 4354 */         project_mutableStateArray_0[1].setNullAt(0);
/* 4355 */       } else {
/* 4356 */         project_mutableStateArray_0[1].write(0, inputadapter_value_0);
/* 4357 */       }
/* 4358 */
/* 4359 */       // Remember the current cursor so that we can calculate how many bytes are
/* 4360 */       // written later.
/* 4361 */       final int project_previousCursor_1 = project_mutableStateArray_0[1].cursor();
/* 4362 */
/* 4363 */       final ArrayData project_tmpInput_1 = project_arrayData_0;
/* 4364 */       if (project_tmpInput_1 instanceof UnsafeArrayData) {
/* 4365 */         project_mutableStateArray_0[1].write((UnsafeArrayData) project_tmpInput_1);
/* 4366 */       } else {
/* 4367 */         final int project_numElements_1 = project_tmpInput_1.numElements();
/* 4368 */         project_mutableStateArray_1[1].initialize(project_numElements_1);
/* 4369 */
/* 4370 */         for (int project_index_1 = 0; project_index_1 < project_numElements_1; project_index_1++) {
/* 4371 */           if (project_tmpInput_1.isNullAt(project_index_1)) {
/* 4372 */             project_mutableStateArray_1[1].setNull8Bytes(project_index_1);
/* 4373 */           } else {
/* 4374 */             project_mutableStateArray_1[1].write(project_index_1, project_tmpInput_1.getDouble(project_index_1));
/* 4375 */           }
/* 4376 */
/* 4377 */         }
/* 4378 */       }
/* 4379 */
/* 4380 */       project_mutableStateArray_0[1].setOffsetAndSizeFromPreviousCursor(1, project_previousCursor_1);
/* 4381 */
/* 4382 */       if (project_isNull_646) {
/* 4383 */         project_mutableStateArray_0[1].setNullAt(2);
/* 4384 */       } else {
/* 4385 */         project_mutableStateArray_0[1].write(2, project_value_646);
/* 4386 */       }
/* 4387 */       append((project_mutableStateArray_0[1].getRow()));
/* 4388 */       if (shouldStop()) return;
/* 4389 */     }
/* 4390 */   }
/* 4391 */
/* 4392 */ }
